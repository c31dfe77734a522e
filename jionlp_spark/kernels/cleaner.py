"""Text-cleaning kernel.

Pure Python, no Spark imports: this module is executed inside Arrow-batched
pandas UDFs on executors (and directly in unit tests).  It reproduces the
reference cleaning chain — JioNLP ``clean_text``
(/root/reference/jionlp/rule/extractor.py:98-143) — byte-for-byte: the same
sub-operations, in the same load-bearing order, with the same Python-`re`
pattern semantics.  Patterns live in :mod:`jionlp_spark.kernels.patterns`.

Order of operations (each optional, all on by default):
  strip html tags -> drop exception chars -> fullwidth->halfwidth ->
  collapse redundant runs -> remove bracketed spans (to fixpoint) ->
  remove urls -> remove emails -> remove phone numbers
"""

from __future__ import annotations

import re

from . import patterns as P


class TextCleaner:
    """Compile-once cleaning kernel (one instance per Python worker)."""

    def __init__(self) -> None:
        self._html_tag = re.compile(P.HTML_TAG)
        self._exception = re.compile(P.EXCEPTION_CHAR)
        self._full2half = str.maketrans(P.FULLWIDTH_CHARS, P.HALFWIDTH_CHARS)
        self._redundant = P.build_redundant_pattern()
        self._brackets = P.build_remove_brackets_pattern()
        self._url = re.compile(P.URL)
        self._email = re.compile(P.EMAIL)
        self._cell = re.compile(P.CELL_PHONE)
        self._landline = re.compile(P.LANDLINE_PHONE)

    # -- individual steps ---------------------------------------------------

    def remove_html_tag(self, text: str) -> str:
        return self._html_tag.sub('', text)

    def remove_exception_char(self, text: str) -> str:
        # exception chars become a space, not empty (extractor.py:479-491)
        return self._exception.sub(' ', text)

    def convert_full2half(self, text: str) -> str:
        return text.translate(self._full2half)

    def remove_redundant_char(self, text: str) -> str:
        return self._redundant.sub('', text)

    def remove_parentheses(self, text: str) -> str:
        # peel nested bracket pairs until no further change
        # (extractor.py:570-575 loops on length)
        prev_len = len(text)
        while True:
            text = self._brackets.sub('', text)
            if len(text) == prev_len:
                return text
            prev_len = len(text)

    def remove_url(self, text: str) -> str:
        # pad with a char that cannot appear in a url (extractor.py:667)
        padded = P.PAD_URL + text + P.PAD_URL
        return self._url.sub('', padded)[1:-1]

    def remove_email(self, text: str) -> str:
        padded = P.PAD_EMAIL + text + P.PAD_EMAIL
        return self._email.sub('', padded)[1:-1]

    def remove_phone_number(self, text: str) -> str:
        padded = P.PAD_GENERIC + text + P.PAD_GENERIC
        padded = self._cell.sub('', padded)
        padded = self._landline.sub('', padded)
        return padded[1:-1]

    # -- fused chain ---------------------------------------------------------

    def normalize(
        self,
        text: str,
        remove_html_tag: bool = True,
        convert_full2half: bool = True,
        remove_exception_char: bool = True,
        remove_redundant_char: bool = True,
    ) -> str:
        """The chain's normalization steps, in the chain's order."""
        if remove_html_tag:
            text = self.remove_html_tag(text)
        if remove_exception_char:
            text = self.remove_exception_char(text)
        if convert_full2half:
            text = self.convert_full2half(text)
        if remove_redundant_char:
            text = self.remove_redundant_char(text)
        return text

    def redact(
        self,
        text: str,
        remove_parentheses: bool = True,
        remove_url: bool = True,
        remove_email: bool = True,
        remove_phone_number: bool = True,
    ) -> str:
        """The chain's span-removal steps, in the chain's order."""
        if remove_parentheses:
            text = self.remove_parentheses(text)
        if remove_url:
            text = self.remove_url(text)
        if remove_email:
            text = self.remove_email(text)
        if remove_phone_number:
            text = self.remove_phone_number(text)
        return text

    def clean_text(
        self,
        text: str,
        remove_html_tag: bool = True,
        convert_full2half: bool = True,
        remove_exception_char: bool = True,
        remove_url: bool = True,
        remove_redundant_char: bool = True,
        remove_parentheses: bool = True,
        remove_email: bool = True,
        remove_phone_number: bool = True,
    ) -> str:
        """Every normalization step, then every span-removal step."""
        text = self.normalize(
            text, remove_html_tag=remove_html_tag,
            convert_full2half=convert_full2half,
            remove_exception_char=remove_exception_char,
            remove_redundant_char=remove_redundant_char)
        return self.redact(
            text, remove_parentheses=remove_parentheses,
            remove_url=remove_url, remove_email=remove_email,
            remove_phone_number=remove_phone_number)


_SINGLETON: TextCleaner | None = None


def get_cleaner() -> TextCleaner:
    """Per-process singleton so patterns compile once per executor worker."""
    global _SINGLETON
    if _SINGLETON is None:
        _SINGLETON = TextCleaner()
    return _SINGLETON


def clean_text(text: str, **kwargs) -> str:
    return get_cleaner().clean_text(text, **kwargs)

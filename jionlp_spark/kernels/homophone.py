"""Homophone substitution augmentation — port of the reference
HomophoneSubstitution (/root/reference/jionlp/textaug/
homophone_substitution.py:18-211) with ONE documented substitution: the
jiojio CWS model's ``cut`` is replaced by forward-maximum-match over the
word-distribution vocabulary (the same 193k-word jiojio output frequency
table the augmenter's replacement dictionary is built from), falling back
to single chars.  Everything else is the reference's algorithm verbatim:

- word→pinyin dict construction (:76-112): group words by no-tone
  consonant+vowel concat pinyin, drop groups of ≤1 word, keep only the
  majority word length per group, drop groups with total frequency
  < 10,000, weight retained words by frequency share — insertion order
  preserved (the weighted ``choice`` depends on it);
- the per-segment Bernoulli(homo_ratio) → mispronounce-variant pinyin
  (one component changed: zh/z, l/n, f/h, in/ing, ... :69-74) → double
  draw favoring the correct pinyin (:176-180) → frequency-weighted word
  choice rejecting the original once (:182-189);
- the augmentation loop with its dedup and attempt cap (:137-147).

Parity: tests/test_homophone.py runs the REFERENCE class with
``jiojio.cut`` stubbed to this module's FMM cut — with segmentation thus
shared, outputs must be byte-identical, which proves the construction,
RNG stream, and substitution logic are exact.
"""

from __future__ import annotations

import collections

import numpy as np

from .trie import CharTrie

# dialect mispronunciation map (homophone_substitution.py:69-74)
PINYIN_MISPRONOUNCE = {
    'zh': 'z', 'ch': 'c', 'sh': 's',
    'z': 'zh', 'c': 'ch', 's': 'sh',
    'l': 'n', 'n': 'l', 'f': 'h', 'h': 'f',
    'in': 'ing', 'an': 'ang', 'en': 'eng',
    'ing': 'in', 'ang': 'an', 'eng': 'en'}


def _joined_pinyin(pairs) -> str:
    """''.join(c + v) over either form of the pairs column: parsed
    [(c, v), ...] or the vendored raw 'c,v|c,v' string (one comma per
    segment by construction — split(',', 1) semantics preserved)."""
    if isinstance(pairs, str):
        return ''.join(p.replace(',', '', 1) for p in pairs.split('|'))
    return ''.join(c + v for c, v in pairs)


def build_word_pinyin_dict(word_distribution) -> dict:
    """Reference _construct_word_pinyin_dict (:76-112) over
    [(word, count, pairs)] rows where pairs is [(consonant, vowel), ...]
    or its raw vendored string form (insertion order = dictionary file
    order, which the weighted choice depends on).

    → {pinyin: ([words], [probs])}
    """
    grouped: dict = {}
    for word, cnt, pairs in word_distribution:
        wp = _joined_pinyin(pairs)
        grouped.setdefault(wp, {})[word] = cnt

    out = {}
    for pinyin, word_dict in grouped.items():
        if pinyin == '' or len(word_dict) <= 1:
            continue
        lengths = [len(w) for w in word_dict]
        correct_length = collections.Counter(lengths).most_common()[0][0]
        keys = [w for w in word_dict if len(w) == correct_length]
        values = [word_dict[w] for w in keys]
        total = sum(values)
        if total < 10000:  # non-common pinyin group (:106)
            continue
        out[pinyin] = (keys, [v / total for v in values])
    return out


class HomophoneSubstitution:
    """Callable augmenter.  ``rng`` injects a per-document
    ``numpy.random.RandomState`` for distributed determinism (same stream
    as the reference's global ``np.random.seed``); default mirrors the
    reference's module-global RNG seeded once."""

    def __init__(self, word_distribution, homo_ratio: float = 0.02,
                 seed: int = 1, rng=None, pinyin=None) -> None:
        self.homo_ratio = homo_ratio
        self.rng = rng if rng is not None else np.random
        self.seed = seed
        # optional full Pinyin kernel (chartext.Pinyin) — the reference
        # pinyins every segment through its full dicts (:133), so chars
        # absent from the word distribution still get real pinyin there;
        # without this fallback such chars read ('','') and veto
        # substitution (consuming fewer RNG draws than the reference)
        self._pinyin_kernel = pinyin
        if rng is None and seed != 0:
            np.random.seed(seed)  # reference :62-64
        # segmentation vocabulary: FMM over the distribution's multi-char
        # words; single chars are the natural FMM fallback
        self._trie = CharTrie()
        self._pinyin = {}
        for word, _cnt, pairs in word_distribution:
            self._pinyin[word] = pairs
            if len(word) > 1:
                self._trie.add(word, word)
        self.word_pinyin_dict = build_word_pinyin_dict(word_distribution)

    def cut(self, text: str) -> list:
        """FMM segmentation (the jiojio.cut stand-in): leftmost-longest
        vocabulary words, single-char fallback."""
        segs = []
        i, n = 0, len(text)
        depth = self._trie.depth
        while i < n:
            step, value = self._trie.longest_prefix(
                text[i: i + depth].lower())
            segs.append(text[i: i + step])
            i += step
        return segs

    def _seg_pinyin(self, seg: str) -> list:
        """Per-char (consonant, vowel) detail for a segment — precomputed
        distribution pinyin for in-vocab words, else the full Pinyin
        kernel when provided (matching the reference, which pinyins every
        segment through its full dicts).  Without a kernel, chars absent
        from the vocabulary read ('', '') — the PY_UNK detail, which
        vetoes substitution (a narrower injected boundary than the
        reference; see tests/test_homophone.py::test_oov_char_fallback)."""
        pairs = self._pin_of(seg)
        if pairs is not None:
            return pairs
        if self._pinyin_kernel is not None:
            return [(d['consonant'], d['vowel'])
                    for d in self._pinyin_kernel(seg, formater='detail')]
        return [p for ch in seg
                for p in [(self._pin_of(ch) or [('', '')])[0]]]

    def _pin_of(self, word: str):
        """Distribution pinyin for a word, parsing the raw vendored form
        lazily — only segments that actually occur in inputs ever parse
        (the eager parse of all 193k rows dominated the build)."""
        v = self._pinyin.get(word)
        if isinstance(v, str):
            v = [tuple(p.split(',', 1)) for p in v.split('|')]
            self._pinyin[word] = v
        return v

    def __call__(self, text: str, augmentation_num: int = 3,
                 homo_ratio: float | None = None,
                 allow_mispronounce: bool = True,
                 seed: int | None = None) -> list:
        if seed is not None and seed != self.seed:  # reference :119-122
            self.seed = seed
            if seed != 0 and self.rng is np.random:
                np.random.seed(seed)
        if homo_ratio is not None:
            self.homo_ratio = homo_ratio

        segs = self.cut(text)
        pinyin_segs = [self._seg_pinyin(seg) for seg in segs]

        augmentation_text_list: list = []
        count = 0
        while len(augmentation_text_list) < augmentation_num:
            augmented_text = self._augment_one(
                pinyin_segs, segs, allow_mispronounce=allow_mispronounce)
            count += 1
            if count > min(augmentation_num / self.homo_ratio, len(text)):
                break
            if augmented_text == text:
                continue
            if augmented_text not in augmentation_text_list:
                augmentation_text_list.append(augmented_text)
        return augmentation_text_list

    def _augment_one(self, pinyin_segs, segs,
                     allow_mispronounce: bool = True) -> str:
        selected_segs = []
        for pinyin_word, word in zip(pinyin_segs, segs):
            if self.rng.random() < self.homo_ratio:
                pinyin_list = []
                for consonant, vowel in pinyin_word:
                    pinyin_list.append(consonant)
                    pinyin_list.append(vowel)

                if '' in pinyin_list:  # no pinyin → skip (:162-164)
                    selected_segs.append(word)
                    continue

                if allow_mispronounce:
                    # single-component mispronounce variants (:166-174)
                    candidate_pinyin_list = [''.join(pinyin_list)]
                    for idx, pinyin in enumerate(pinyin_list):
                        if pinyin in PINYIN_MISPRONOUNCE:
                            candidate_pinyin_list.append(''.join(
                                [p if idx != i
                                 else PINYIN_MISPRONOUNCE[p]
                                 for i, p in enumerate(pinyin_list)]))
                    # double draw favors the correct pinyin (:176-180)
                    selected_pinyin = self.rng.choice(candidate_pinyin_list)
                    if selected_pinyin != ''.join(pinyin_list):
                        selected_pinyin = self.rng.choice(
                            candidate_pinyin_list)
                else:
                    selected_pinyin = ''.join(pinyin_list)

                if selected_pinyin in self.word_pinyin_dict:
                    keys, probs = self.word_pinyin_dict[selected_pinyin]
                    selected_word = ''
                    for _ in range(len(keys)):  # reject original (:184-189)
                        selected_word = self.rng.choice(keys, p=probs)
                        if selected_word != word:
                            break
                    selected_segs.append(selected_word)
                else:
                    selected_segs.append(word)
            else:
                selected_segs.append(word)
        return ''.join(selected_segs)

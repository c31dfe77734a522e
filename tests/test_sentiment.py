"""Sentiment kernel parity vs the live reference (full dictionaries) and
vendored-subset consistency on the driver-query fixtures."""

TEXTS = ['14岁女孩坠亡生前遭强奸致孕。',
         '今天天气真好，心情舒畅，非常开心。',
         '这部电影不好看，情节拖沓，令人失望。',
         '他说：这个产品很不错，但是售后服务太差了。',
         '平平无奇的一天。',
         '我坐在椅子上看城市的衰落，我摘下一片叶子，让它代替我',
         '不是很满意，也不是非常糟糕。',
         '虽然开局不利，可是结局非常圆满，大家都很高兴！',
         '毫无意义', '不够好', '非常非常好', '不仅不差，反而极好', '',
         '价格便宜量又足，服务周到，点赞！',
         '质量差劲，根本不能用，太气人了。',
         '还行吧，不功不过。',
         '不但不丑，反而漂亮极了',
         '这里风景优美，就是人太多，但是整体值得一来。']


def test_sentiment_parity_full_dicts(jio):
    from jionlp.algorithm.sentiment.sentiment_analysis import LexiconSentiment
    from jionlp.dictionary import (negative_words_loader,
                                   sentiment_expand_words_loader,
                                   sentiment_words_loader)

    from jionlp_spark.kernels.sentiment import SentimentAnalyzer
    ref = LexiconSentiment()
    ours = SentimentAnalyzer(sentiment_words_loader(),
                             negative_words_loader(),
                             sentiment_expand_words_loader())
    for t in TEXTS:
        assert abs(ref(t) - ours(t)) < 1e-12, t


def test_sentiment_vendored_matches_full_on_fixtures(reference):
    """The vendored subset must reproduce full-dict scores on the driver
    query fixtures (guaranteed by vendoring every full-dict word that is a
    substring of a fixture sentence)."""
    import __spark_entry__ as entry
    from jionlp_spark import lexicons
    from jionlp_spark.kernels.sentiment import SentimentAnalyzer
    vend = SentimentAnalyzer(*lexicons.load_sentiment_lexicons())

    def ref(jio, t):
        from jionlp.algorithm.sentiment.sentiment_analysis import \
            LexiconSentiment
        return round(float(LexiconSentiment()(t)), 6)

    # the certified tree asserted round(vend(t), 6) == the reference's
    # rounded score == the query literal, for every fixture sentence
    want = reference.outputs('LexiconSentiment rounded', entry._SENTI_IN,
                             ref=ref, ours=lambda t: round(vend(t), 6))
    for t, w, expect in zip(entry._SENTI_IN, want, entry._SENTI_OUT):
        assert w == expect, t
        assert round(vend(t), 6) == expect, t

"""check_person_name parity vs the live reference
(algorithm/ner/check_person_name.py:21-69)."""

import itertools


def test_person_name_parity(reference):
    from jionlp_spark.kernels.person import get_person_checker
    ck = get_person_checker()

    # crafted traps: removed-ambiguous surnames (章), compound surnames,
    # double-single-surname 4-char names, non-names, boundary lengths
    cases = ['章家瑞', '办公室', '欧阳娜娜', '刘王晨曦', '上官婉儿', '王五',
             '章鱼', '赵', '司马光', '第五爱国', '哈哈哈', '北京市', '张三',
             '李四', '明天见', '佟丽娅', '王小明', '图书馆员', '陈',
             '陈独秀秀秀', '南宫问天', '涂山', '山涂', '', '欧阳',
             '万俟卨', '慕容复', '赵钱孙李周']

    # exhaustive 2–3 char sweep over a mixed char pool (surnames, ambiguous
    # ex-surnames, ordinary chars)
    pool = '王张刘章云苏花高山水木米贝马牛羊鱼第五东郭'
    for a, b in itertools.product(pool, repeat=2):
        cases.append(a + b)
    for a in pool:
        cases.append(a + '晓明')

    assert len(cases) > 400
    reference.check('check_person_name', cases,
                    ref=lambda jio, c: bool(jio.ner.check_person_name(c)),
                    ours=ck)

"""money_num2char parity + round-trip through the money parser."""

import random


def test_money_num2char_parity(reference):
    from jionlp_spark.kernels.money_fmt import money_num2char
    random.seed(3)
    cases = [120402810.03, '38,009.0', 0, 10, 1000000, '999.99',
             100000001, '10.50', 80808080, 5]
    cases += [random.randint(0, 10 ** random.randint(1, 11))
              for _ in range(100)]
    cases += [round(random.uniform(0, 10 ** 8), 2) for _ in range(60)]
    reference.check(
        'money_num2char', [(n, st) for n in cases for st in ('sim', 'tra')],
        ref=lambda jio, c: jio.money_num2char(c[0], sim_or_tra=c[1]),
        ours=lambda c: money_num2char(c[0], sim_or_tra=c[1]))


def test_money_round_trip():
    from jionlp_spark.kernels.money import get_money_parser
    from jionlp_spark.kernels.money_fmt import money_num2char
    mp = get_money_parser()
    for n in [123, 4500, 38009, 1200000, 98765432, 7]:
        rendered = money_num2char(n, sim_or_tra='sim') + '元'
        assert float(mp.parse(rendered)['num']) == float(n), rendered

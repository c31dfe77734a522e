"""parse_motor_vehicle_licence_plate parity vs the live reference
(gadget/motor_vehicle_licence_plate.py:71-134)."""


CASES = ['川A·23047B', '京A12345', '沪AD12345', '粤B·D12345', '津A12345B',
         '苏E 1A234', '鄂A1234x5', '蒙K98765', '新Af1234', '川A230478',
         '川A2304789', 'ABC1234', '云AF1234k', '云A·F12345', '藏AD1234',
         '青A12345D', '宁A·12345', '琼AA0000B', '辽BF23456', '吉C99999',
         '黑DK12345', '湘E·B3456', '赣F12345', '桂G·543210', '川A23047',
         '川A·2304', '晋蒙A1234', '京A　12345', '粤Z·1234港']


def test_plate_parity(reference):
    from jionlp_spark.kernels.plate import parse_licence_plate
    reference.check(
        'parse_motor_vehicle_licence_plate', CASES,
        ref=lambda jio, c: jio.parse_motor_vehicle_licence_plate(c),
        ours=parse_licence_plate)

"""GENERATED by tools/gen_vda_oracle.py — do not edit.

Expected value_deciles_approx_seq output at the single-flush-eligible
SFs (sf0.1's 100k values exceed the 50k head buffer, where even the
repartition(1) twin is arrival-order-dependent, so it has NO entry by
design) from the independent pure-python Greenwald-Khanna restatement
(see the generator docstring), self-checked against the live pipeline.
"""

EXPECTED_BY_SF = {
    '/root/testdata/sf0.001': {
        'value_deciles_approx_seq': '''
    SELECT col0 AS decile, col1 AS n, col2 AS lo, col3 AS hi FROM (VALUES
    (1::BIGINT, 100::BIGINT, 0.03::DOUBLE, 5.35::DOUBLE),
    (2::BIGINT, 100::BIGINT, 5.41::DOUBLE, 11.93::DOUBLE),
    (3::BIGINT, 100::BIGINT, 11.94::DOUBLE, 18.71::DOUBLE),
    (4::BIGINT, 100::BIGINT, 18.88::DOUBLE, 26.42::DOUBLE),
    (5::BIGINT, 100::BIGINT, 26.51::DOUBLE, 35.62::DOUBLE),
    (6::BIGINT, 100::BIGINT, 35.85::DOUBLE, 47.36::DOUBLE),
    (7::BIGINT, 100::BIGINT, 47.77::DOUBLE, 62.17::DOUBLE),
    (8::BIGINT, 100::BIGINT, 62.2::DOUBLE, 82.92::DOUBLE),
    (9::BIGINT, 100::BIGINT, 82.95::DOUBLE, 112.39::DOUBLE),
    (10::BIGINT, 100::BIGINT, 112.46::DOUBLE, 327.53::DOUBLE)) t
''',
    },
    '/root/testdata/sf0.01': {
        'value_deciles_approx_seq': '''
    SELECT col0 AS decile, col1 AS n, col2 AS lo, col3 AS hi FROM (VALUES
    (1::BIGINT, 1001::BIGINT, 0.01::DOUBLE, 5.2::DOUBLE),
    (2::BIGINT, 998::BIGINT, 5.21::DOUBLE, 11.08::DOUBLE),
    (3::BIGINT, 1001::BIGINT, 11.1::DOUBLE, 18.16::DOUBLE),
    (4::BIGINT, 1001::BIGINT, 18.17::DOUBLE, 25.7::DOUBLE),
    (5::BIGINT, 1000::BIGINT, 25.74::DOUBLE, 34.59::DOUBLE),
    (6::BIGINT, 998::BIGINT, 34.61::DOUBLE, 45.6::DOUBLE),
    (7::BIGINT, 1000::BIGINT, 45.64::DOUBLE, 60.0::DOUBLE),
    (8::BIGINT, 1001::BIGINT, 60.01::DOUBLE, 79.7::DOUBLE),
    (9::BIGINT, 999::BIGINT, 79.71::DOUBLE, 113.2::DOUBLE),
    (10::BIGINT, 1001::BIGINT, 113.28::DOUBLE, 490.02::DOUBLE)) t
''',
    },
}

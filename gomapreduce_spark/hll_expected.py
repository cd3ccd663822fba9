"""GENERATED by tools/gen_hll_oracle.py — do not edit.

Expected approx_distinct_users output at every committed SF from
the independent pure-python xxHash64 + HLL++ restatement (see the
generator docstring), self-checked against the live pipeline per SF.
"""

EXPECTED_BY_SF = {
    '/root/testdata/sf0.001': {
        'approx_distinct_users': '''
    SELECT col0 AS event_type, col1 AS approx_users FROM (VALUES
    ('click', 15::BIGINT),
    ('error', 15::BIGINT),
    ('purchase', 15::BIGINT),
    ('signup', 15::BIGINT),
    ('view', 15::BIGINT)) t
''',
    },
    '/root/testdata/sf0.01': {
        'approx_distinct_users': '''
    SELECT col0 AS event_type, col1 AS approx_users FROM (VALUES
    ('click', 150::BIGINT),
    ('error', 150::BIGINT),
    ('purchase', 150::BIGINT),
    ('signup', 150::BIGINT),
    ('view', 150::BIGINT)) t
''',
    },
    '/root/testdata/sf0.1': {
        'approx_distinct_users': '''
    SELECT col0 AS event_type, col1 AS approx_users FROM (VALUES
    ('click', 1494::BIGINT),
    ('error', 1494::BIGINT),
    ('purchase', 1494::BIGINT),
    ('signup', 1494::BIGINT),
    ('view', 1494::BIGINT)) t
''',
    },
}

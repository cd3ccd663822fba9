"""Precomputed BPE oracles (GENERATED — do not edit).

Source: tools/gen_bpe_oracle.py (independent reference,
self-checked against the live pipelines at generation time).
Every committed SF has its own tables in EXPECTED_BY_SF.
"""

EXPECTED_BY_SF = {
    '/root/testdata/sf0.001': {
        'bpe_learn_merges': '''
SELECT v.rank::BIGINT AS rank, v.l AS "left", v.r AS "right",
       v.pair_count::BIGINT AS pair_count
FROM (VALUES
  (1, 'e', 'r', 4650),
  (2, 'e', '</w>', 4644),
  (3, 'n', '</w>', 2898),
  (4, 'o', 'r', 2880),
  (5, 't', '</w>', 2850),
  (6, 'er', '</w>', 2781),
  (7, 'o', 'w', 2763),
  (8, 'ow', '</w>', 2763),
  (9, 'l', 'u', 1928),
  (10, 'i', 'n', 1922),
  (11, 'y', '</w>', 1879),
  (12, 'a', 'r', 1873),
  (13, 'p', 'ar', 1873),
  (14, 'g', '</w>', 1843),
  (15, 'a', 's', 1836),
  (16, 'h', '</w>', 1833),
  (17, 'a', '</w>', 1827),
  (18, 's', 't', 1808),
  (19, 'a', 't', 1806),
  (20, 'a', 'n</w>', 984),
  (21, 'c', 'an</w>', 984),
  (22, 's', 'can</w>', 984),
  (23, 'c', 'o', 978),
  (24, 'co', 'lu', 978)
) AS v(rank, l, r, pair_count)
''',
        'bpe_encode_stats': '''
SELECT v.lang AS lang, v.n_words::BIGINT AS n_words,
       v.n_tokens::BIGINT AS n_tokens,
       v.n_single::BIGINT AS n_single_token_words,
       v.fertility::DOUBLE AS fertility
FROM (VALUES
  ('de', 4070, 14834, 301, 3.644717),
  ('en', 10343, 37741, 697, 3.648941),
  ('es', 4516, 16444, 318, 3.641275),
  ('fr', 4926, 18053, 325, 3.66484),
  ('zh', 4084, 15019, 274, 3.677522)
) AS v(lang, n_words, n_tokens, n_single, fertility)
''',
    },
    '/root/testdata/sf0.01': {
        'bpe_learn_merges': '''
SELECT v.rank::BIGINT AS rank, v.l AS "left", v.r AS "right",
       v.pair_count::BIGINT AS pair_count
FROM (VALUES
  (1, 'e', 'r', 4568),
  (2, 'e', '</w>', 4473),
  (3, 'n', '</w>', 2834),
  (4, 'er', '</w>', 2779),
  (5, 'o', 'w', 2747),
  (6, 'ow', '</w>', 2747),
  (7, 'o', 'r', 2696),
  (8, 's', 't', 2676),
  (9, 'h', '</w>', 1884),
  (10, 'a', 't', 1845),
  (11, 'l', 'u', 1831),
  (12, 'i', 'n', 1796),
  (13, 'a', '</w>', 1788),
  (14, 'g', '</w>', 1777),
  (15, 'y', '</w>', 1767),
  (16, 'a', 'r', 1758),
  (17, 'p', 'ar', 1758),
  (18, 't', '</w>', 1750),
  (19, 'i', 'n</w>', 964),
  (20, 'j', 'o', 964),
  (21, 'jo', 'in</w>', 964),
  (22, 'a', 's', 947),
  (23, 'as', 'h</w>', 947),
  (24, 'h', 'ash</w>', 947)
) AS v(rank, l, r, pair_count)
''',
        'bpe_encode_stats': '''
SELECT v.lang AS lang, v.n_words::BIGINT AS n_words,
       v.n_tokens::BIGINT AS n_tokens,
       v.n_single::BIGINT AS n_single_token_words,
       v.fertility::DOUBLE AS fertility
FROM (VALUES
  ('de', 3549, 13067, 383, 3.681882),
  ('en', 11757, 43315, 1234, 3.684188),
  ('es', 3958, 14677, 391, 3.708186),
  ('fr', 3758, 13949, 366, 3.711815),
  ('zh', 4143, 15459, 417, 3.731354)
) AS v(lang, n_words, n_tokens, n_single, fertility)
''',
    },
    '/root/testdata/sf0.1': {
        'bpe_learn_merges': '''
SELECT v.rank::BIGINT AS rank, v.l AS "left", v.r AS "right",
       v.pair_count::BIGINT AS pair_count
FROM (VALUES
  (1, 'e', '</w>', 45289),
  (2, 'e', 'r', 45089),
  (3, 'i', 'n', 27190),
  (4, 'o', 'r', 27095),
  (5, 's', 't', 27060),
  (6, 'er', '</w>', 27051),
  (7, 'o', 'w', 27044),
  (8, 'ow', '</w>', 27044),
  (9, 't', 'a', 18248),
  (10, 'l', 'u', 18239),
  (11, 'a', 'r', 18111),
  (12, 'p', 'ar', 18111),
  (13, 'n', '</w>', 17990),
  (14, 'g', '</w>', 17969),
  (15, 't', '</w>', 17934),
  (16, 'h', '</w>', 17853),
  (17, 'y', '</w>', 17774),
  (18, 'p', '</w>', 9295),
  (19, 'u', 'p</w>', 9295),
  (20, 'k', '</w>', 9182),
  (21, 'par', 'k</w>', 9182),
  (22, 's', 'park</w>', 9182),
  (23, 'd', 'ow</w>', 9159),
  (24, 'in', 'dow</w>', 9159)
) AS v(rank, l, r, pair_count)
''',
        'bpe_encode_stats': '''
SELECT v.lang AS lang, v.n_words::BIGINT AS n_words,
       v.n_tokens::BIGINT AS n_tokens,
       v.n_single::BIGINT AS n_single_token_words,
       v.fertility::DOUBLE AS fertility
FROM (VALUES
  ('de', 38406, 144034, 1262, 3.750299),
  ('en', 112006, 417828, 3815, 3.730407),
  ('es', 41044, 152569, 1458, 3.717206),
  ('fr', 40521, 151595, 1356, 3.741147),
  ('zh', 38727, 145005, 1291, 3.744287)
) AS v(lang, n_words, n_tokens, n_single, fertility)
''',
    },
}

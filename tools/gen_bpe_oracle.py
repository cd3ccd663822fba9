"""Generate DuckDB literal-table oracles for the BPE tokenizer
pipeline (``bpe_learn_merges``, ``bpe_encode_stats``) — the
gen_codec_oracle/gen_ann_oracle mechanism applied to the iterative
merge loop, which no single SQL statement can express.

Reference independence: tokenization here is Python's ``str.split()``
(Unicode-whitespace Fields semantics — the same SPEC as the pipeline's
regex, arrived at through a different implementation), and the merge
loop / encoder are restated from Sennrich et al. 2016 with their own
data layout (tuple symbol sequences, dict-of-pairs counting). Both
queries are deterministic end-to-end (exact integer counts, ties by
(count desc, pair lex asc), fixed merge budget), so their expected
output at one scale factor is a VALUES table. A self-check compares
against the live Spark pipelines and refuses to write on mismatch.

Run: python tools/gen_bpe_oracle.py   (regenerates EXPECTED_BY_SF for every committed SF)
Writes: gomapreduce_spark/bpe_expected.py
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_common import half_up, write_oracles

N_MERGES = 24
TOP_WORDS = 2000
EOW = "</w>"


def learn(freq_head: list[tuple[str, int]]) -> list[tuple[int, str, str, int]]:
    """Sennrich-2016 merge selection over a word-frequency dict."""
    vocab: list[list] = [[tuple([*w, EOW]), n] for w, n in freq_head]
    table = []
    for rank in range(1, N_MERGES + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab:
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + n
        if not counts:
            break
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (a, b), cnt = best
        table.append((rank, a, b, cnt))
        for entry in vocab:
            entry[0] = apply_merge(entry[0], a, b)
    return table


def apply_merge(syms: tuple, a: str, b: str) -> tuple:
    out, i, fused = [], 0, a + b
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(fused)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def encode_len(word: str, table: list[tuple[int, str, str, int]], memo: dict) -> int:
    if word in memo:
        return memo[word]
    syms = tuple([*word, EOW])
    for _, a, b, _cnt in table:
        syms = apply_merge(syms, a, b)
    memo[word] = len(syms)
    return len(syms)


def build(sf_dir: str, spark) -> dict[str, str]:
    import duckdb

    docs = duckdb.sql(
        f"SELECT lang, text FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY lang, text"
    ).fetchall()

    wc: Counter = Counter()
    for _, txt in docs:
        wc.update((txt or "").split())  # Unicode-whitespace Fields semantics
    head = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_WORDS]

    table = learn(head)

    memo: dict[str, int] = {}
    stats: dict[str, list[int]] = {}
    for lang, txt in docs:
        acc = stats.setdefault(lang, [0, 0, 0])
        for w in (txt or "").split():
            n = encode_len(w, table, memo)
            acc[0] += 1
            acc[1] += n
            acc[2] += 1 if n == 1 else 0
    enc_rows = [
        (lang, a[0], a[1], a[2], half_up(a[1] / a[0], 6)) for lang, a in sorted(stats.items())
    ]

    # self-check vs the live Spark pipelines
    from gomapreduce_spark.queries import QUERIES

    got_m = sorted(tuple(r) for r in QUERIES["bpe_learn_merges"](spark, sf_dir).collect())
    assert got_m == sorted(table), (
        f"merge table disagrees\n  only-spark: {[x for x in got_m if x not in table][:3]}"
        f"\n  only-ref:   {[x for x in table if x not in got_m][:3]}"
    )
    got_e = sorted(
        (r.lang, r.n_words, r.n_tokens, r.n_single_token_words, f"{r.fertility:.9g}")
        for r in QUERIES["bpe_encode_stats"](spark, sf_dir).collect()
    )
    want_e = sorted((l, w, t, s, f"{f:.9g}") for l, w, t, s, f in enc_rows)
    assert got_e == want_e, (
        f"encode stats disagree\n  spark: {got_e}\n  ref:   {want_e}"
    )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    merges_sql = (
        "\nSELECT v.rank::BIGINT AS rank, v.l AS \"left\", v.r AS \"right\",\n"
        "       v.pair_count::BIGINT AS pair_count\n"
        "FROM (VALUES\n"
        + ",\n".join(f"  ({r}, {q(a)}, {q(b)}, {c})" for r, a, b, c in table)
        + "\n) AS v(rank, l, r, pair_count)\n"
    )
    enc_sql = (
        "\nSELECT v.lang AS lang, v.n_words::BIGINT AS n_words,\n"
        "       v.n_tokens::BIGINT AS n_tokens,\n"
        "       v.n_single::BIGINT AS n_single_token_words,\n"
        "       v.fertility::DOUBLE AS fertility\n"
        "FROM (VALUES\n"
        + ",\n".join(f"  ({q(l)}, {w}, {t}, {s}, {f!r})" for l, w, t, s, f in enc_rows)
        + "\n) AS v(lang, n_words, n_tokens, n_single, fertility)\n"
    )

    print(f"built {sf_dir}: {len(table)} merges, {len(enc_rows)} encode rows")
    return {"bpe_learn_merges": merges_sql, "bpe_encode_stats": enc_sql}


def main() -> int:
    from gomapreduce_spark.operators import text as pipe

    assert (pipe.BPE_N_MERGES, pipe.BPE_TOP_WORDS) == (N_MERGES, TOP_WORDS)
    write_oracles(
        "bpe",
        "Precomputed BPE oracles (GENERATED — do not edit).\n\n"
        "Source: tools/gen_bpe_oracle.py (independent reference,\n"
        "self-checked against the live pipelines at generation time).\n"
        "Every committed SF has its own tables in EXPECTED_BY_SF.\n",
        build,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

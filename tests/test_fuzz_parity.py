"""Batched fuzz tests for the parity-critical primitives: the pinned
word-count semantics vs CPython, and portable_round / money_sum vs
DuckDB, on hundreds of randomized inputs in a single Spark job."""

from __future__ import annotations

import random
import string

import duckdb
import pytest
from pyspark.sql import functions as F

from tia_data_pipeline_spark.functions.text import (
    money_sum,
    money_sum_sql,
    portable_round,
    portable_round_sql,
    word_count,
    word_count_sql,
)

_CHARS = string.ascii_letters + string.digits + " \t\n\r\f\x0b" + ".,!?-"


def _rand_strings(n: int, seed: int = 1234) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        ln = rng.randrange(0, 60)
        out.append("".join(rng.choice(_CHARS) for _ in range(ln)))
    return out


def test_word_count_fuzz_vs_cpython_and_duckdb(spark):
    cases = _rand_strings(500)
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i int, s string")
    got = {r["i"]: r["wc"] for r in df.select("i", word_count(F.col("s")).alias("wc")).collect()}
    # vs CPython (ASCII inputs → exact parity claim)
    for i, s in enumerate(cases):
        assert got[i] == len(s.split()), f"{s!r}"
    # vs the DuckDB oracle fragment
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(cases)))
    duck = dict(con.sql(f"SELECT i, {word_count_sql('s')} FROM t").fetchall())
    assert got == duck


def test_portable_round_fuzz_vs_duckdb(spark):
    rng = random.Random(99)
    vals = [rng.uniform(-1e6, 1e6) for _ in range(500)] + [57.835, 11.255, 2.675, 0.125, -2.675]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v double")
    got = {
        r["i"]: (r["r2"], r["r6"])
        for r in df.select(
            "i",
            portable_round(F.col("v"), 2).alias("r2"),
            portable_round(F.col("v"), 6).alias("r6"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals)))
    duck = {
        i: (r2, r6)
        for i, r2, r6 in con.sql(
            f"SELECT i, {portable_round_sql('v', 2)}, {portable_round_sql('v', 6)} FROM t"
        ).fetchall()
    }
    assert got == duck


def test_canonicalize_and_fingerprint_fuzz_vs_duckdb(spark):
    from tia_data_pipeline_spark.functions.text import (
        canonicalize,
        canonicalize_sql,
        doc_fingerprint,
        doc_fingerprint_sql,
    )

    rng = random.Random(321)
    alphabet = string.ascii_letters + string.digits + " .,!?-éàüñ—№中文"
    cases = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 80))) for _ in range(300)
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i int, s string")
    got = {
        r["i"]: (r["c"], r["f"])
        for r in df.select(
            "i",
            canonicalize(F.col("s")).alias("c"),
            doc_fingerprint(F.col("s")).alias("f"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(cases)))
    duck = {
        i: (c, f)
        for i, c, f in con.sql(
            f"SELECT i, {canonicalize_sql('s')}, {doc_fingerprint_sql('s')} FROM t"
        ).fetchall()
    }
    assert got == duck


def test_money_sum_fuzz_vs_duckdb(spark):
    rng = random.Random(7)
    # 2-dp money values across groups, summed in different orders
    rows = [(i % 7, round(rng.uniform(-1000, 1000), 2)) for i in range(2000)]
    df = spark.createDataFrame(rows, "g int, v double")
    got = {
        r["g"]: r["s"]
        for r in df.groupBy("g").agg(money_sum(F.col("v"), decimals=2).alias("s")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(
        con.sql(f"SELECT g, {money_sum_sql('v', decimals=2)} FROM t GROUP BY g").fetchall()
    )
    assert got == duck


def test_md5_int_sql_cross_engine_fuzz(spark):
    """The portable MinHash shingle hash (md5_int_sql) must produce the
    SAME bigint in Spark SQL and DuckDB for arbitrary strings — the
    whole q_fuzzy_dedup oracle upgrade rests on this primitive.

    The Spark plans hash through the column twins (``md5_int``, and
    ``md5_words`` + ``md5_bit`` for the SimHash votes) while the
    oracles keep the instr-digit SQL: each twin must equal its SQL in
    DuckDB for every digit count 1-15 and every bit of the 1-, 32-,
    48-, 61- and 62-bit widths, on the fuzz strings plus '' and NULL."""
    import pandas as pd

    from tia_data_pipeline_spark.operators.dedup import (
        _md5_bit_expr,
        md5_bit,
        md5_int,
        md5_int_sql,
        md5_words,
    )

    vals = [s for s in _rand_strings(300, seed=77) if s]  # md5 of '' agrees too, keep distinct rows simple
    vals += ["", "a", "the quick brown fox", "ünïcode ğ 漢字", " " * 5]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(vals)], "i int, s string")
    got = {
        r["i"]: r["h"]
        for r in df.selectExpr("i", f"{md5_int_sql('s')} AS h").collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": list(range(len(vals))), "s": vals}))
    want = {
        int(i): int(h)
        for i, h in con.execute(f"SELECT i, {md5_int_sql('s')} AS h FROM t").fetchall()
    }
    assert got == want
    # range invariant: < 16^7 so a*x stays clear of ANSI bigint overflow
    assert all(0 <= h < 16**7 for h in got.values())

    vals.append(None)
    df = spark.createDataFrame([(i, s) for i, s in enumerate(vals)], "i int, s string")
    con.register("u", pd.DataFrame({"i": list(range(len(vals))), "s": vals}))
    digits = range(1, 16)
    widths = (1, 32, 48, 61, 62)
    cols = [md5_int(F.col("s"), d) for d in digits]
    frags = [md5_int_sql("s", d) for d in digits]
    for w in widths:
        words = md5_words(F.col("s"), w)
        cols += [md5_bit(words, j) for j in range(w)]
        frags += [_md5_bit_expr("s", j) for j in range(w)]
    got = {r[0]: tuple(r[1:]) for r in df.select("i", *cols).collect()}
    want = {
        int(r[0]): tuple(None if v is None else int(v) for v in r[1:])
        for r in con.execute(f"SELECT i, {', '.join(frags)} FROM u").fetchall()
    }
    assert got == want
    assert set(got[len(vals) - 1]) == {None}  # NULL in, NULL out
    assert None not in got[vals.index("")]
    with pytest.raises(ValueError):
        md5_int(F.col("s"), 16)


def test_word_shingles_fuzz_vs_cpython_and_duckdb(spark):
    """word_shingles (the primitive under boilerplate / decontaminate /
    ngram-jaccard / minhash) vs a CPython model and vs the DuckDB
    list-comprehension fragment the oracles embed — distinct word
    n-grams, CPython split() tokenization, short docs -> []."""
    import pandas as pd

    from tia_data_pipeline_spark.functions.text import tokens_sql
    from tia_data_pipeline_spark.operators.dedup import word_shingles

    def model(s: str, n: int) -> list[str]:
        toks = s.split()
        sh = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        seen: set[str] = set()
        out = []
        for x in sh:
            if x not in seen:
                seen.add(x)
                out.append(x)
        return out

    cases = _rand_strings(300, seed=4242)
    cases += ["", "   ", "a", "a b", "a  b\tc", "x " * 30, "a b a b a b", "\n\n", "w1 w2 w3 w4 w5"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i int, s string")
    for n in (2, 3, 5):
        got = {
            r["i"]: r["sh"]
            for r in df.select("i", word_shingles(F.col("s"), n).alias("sh")).collect()
        }
        for i, s in enumerate(cases):
            assert got[i] == model(s, n), f"n={n} {s!r}"
        # vs the oracle fragment (order-insensitive: list_distinct order
        # is DuckDB's business; the oracles always explode + aggregate)
        con = duckdb.connect()
        con.register("t", pd.DataFrame({"i": list(range(len(cases))), "s": cases}))
        frag = (
            f"list_distinct([array_to_string(tk[i:i+{n - 1}], ' ') "
            f"FOR i IN range(1, greatest(len(tk) - {n - 1}, 0) + 1)])"
        )
        duck = {
            int(i): sorted(sh)
            for i, sh in con.execute(
                f"SELECT i, {frag} AS sh FROM (SELECT i, {tokens_sql('s')} AS tk FROM t)"
            ).fetchall()
        }
        assert {i: sorted(v) for i, v in got.items()} == duck, f"n={n}"


def test_bpe_token_count_vertical_tab_parity(spark):
    """BPE_RE must spell out the pinned WS_CLASS instead of `\\s`: Java
    and RE2 disagree on whether \\s includes \\x0B, so a bare \\s makes
    the two engines tokenize 'a\\x0bb' differently (3 vs 2 tokens)."""
    from tia_data_pipeline_spark.functions.text import bpe_token_count, bpe_token_count_sql

    cases = ["a\x0bb", "x \x0b y", "\x0b", "a.b,c", "", "tab\tsep"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i int, s string")
    got = {
        r["i"]: r["n"] for r in df.select("i", bpe_token_count(F.col("s")).alias("n")).collect()
    }
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame({"i": list(range(len(cases))), "s": cases}))
    want = {int(i): int(n) for i, n in con.execute(f"SELECT i, {bpe_token_count_sql('s')} FROM t").fetchall()}
    assert got == want
    assert got[0] == 2  # 'a\x0bb' -> ['a','b']: \x0b is whitespace on BOTH engines


def test_integer_log_nanonat_fuzz_vs_duckdb(spark):
    """Pins the TRUE cross-engine contract of the ln-of-integer
    nano-nat construction behind q_jsd_mix / q_bm25 / q_lm_perplexity /
    q_token_entropy: JVM Math.log and DuckDB's libm ln differ by 1 ulp
    on ~1% of large integer arguments, so the per-TERM bigints
    floor((ln(x)-ln(y))·w·1e9 + 0.5) may differ by a few units when
    the pre-floor product is large (observed max 2 at products ~1e15).
    The queries stay hash-exact because their OUTPUT divides the term
    sum by 1e9·total before 6-dp portable rounding — a ±few-nano-unit
    term wobble moves the rounded output only if the true value sits
    within ~1e-12 of a rounding boundary (and for the fixed driver
    corpus the computation is deterministic, so green is green). This
    test pins both halves: terms agree within ±4 and almost always
    exactly."""
    import random

    rng = random.Random(4242)
    rows = []
    for i in range(500):
        x = rng.randrange(1, 10**13)
        y = rng.randrange(1, 10**13)
        w = rng.randrange(1, 10**6)
        rows.append((i, x, y, w))
    df = spark.createDataFrame(rows, "i int, x bigint, y bigint, w bigint")
    expr = "CAST(floor((ln(x) - ln(y)) * w * 1000000000.0 + 0.5) AS BIGINT)"
    got = {r["i"]: r["v"] for r in df.selectExpr("i", f"{expr} AS v").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, x BIGINT, y BIGINT, w BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    duck = dict(
        con.sql("SELECT i, floor((ln(x) - ln(y)) * w * 1000000000.0 + 0.5)::BIGINT FROM t").fetchall()
    )
    diffs = [abs(got[i] - duck[i]) for i in got]
    assert max(diffs) <= 4, f"ulp wobble exceeded bound: {max(diffs)}"
    assert sum(d == 0 for d in diffs) >= int(0.98 * len(diffs))


def test_cosine_fuzz_including_zero_vectors_vs_duckdb(spark):
    """Review r5: bare list_cosine_similarity returns -1.0 for a
    zero-norm vector where the Spark form yields NULL; cosine_sql's
    guard must state Spark's semantics exactly — fuzzed over random
    vectors with planted zeros."""
    import random

    from tia_data_pipeline_spark.functions.vectors import cosine_similarity, cosine_sql

    rng = random.Random(77)
    rows = []
    for i in range(200):
        a = [rng.gauss(0, 1) for _ in range(8)]
        b = [rng.gauss(0, 1) for _ in range(8)]
        if i % 7 == 0:
            a = [0.0] * 8
        if i % 11 == 0:
            b = [0.0] * 8
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "i int, a array<double>, b array<double>")
    from tia_data_pipeline_spark.functions.text import portable_round

    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", portable_round(cosine_similarity(F.col("a"), F.col("b")), 6).alias("c")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck = dict(
        con.sql(
            f"SELECT i, {portable_round_sql(cosine_sql('a', 'b'), 6)} FROM t"
        ).fetchall()
    )
    assert got == duck
    assert any(v is None for v in got.values())  # the zero-vector rows


def test_gopher_ellipsis_crlf_parity_vs_duckdb(spark):
    """Review r5: Java's $ matches before a trailing \\r while RE2
    (DuckDB) matches only end-of-text, so the ellipsis line test must
    consume \\r before the anchor — pinned on CRLF, LF and bare lines."""
    from tia_data_pipeline_spark.functions.text import gopher_rules, gopher_rules_sql

    docs = [
        (0, "foo...\r\nbar"),   # CRLF: the diverging case
        (1, "foo...\nbar"),     # LF
        (2, "foo..."),          # no terminator
        (3, "foo... \t\r\nbar"),  # trailing blanks before CR
        (4, "no dots\r\nhere"),
    ]
    df = spark.createDataFrame(docs, "i int, text string")
    cols, _ = gopher_rules(F.col("text"))
    got = {
        r["i"]: float(r["e"])
        for r in df.select("i", cols["ellipsis_frac"].alias("e")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", docs)
    sql_cols, _ = gopher_rules_sql("text")
    duck = dict(con.sql(f"SELECT i, {sql_cols['ellipsis_frac']} FROM t").fetchall())
    assert got == {k: float(v) for k, v in duck.items()}
    assert got[0] == 0.5  # the CRLF ellipsis line counts on BOTH engines


def test_string_function_pairs_fuzz_vs_duckdb(spark):
    """Differential fuzz of EVERY string-function pair over adversarial
    text (unicode line separators, CRLF, CJK, NBSP, ellipses, emails /
    phones / IPs adjacent to word and non-word chars). Caught in round
    5: Java's $ matches before a trailing line terminator (U+2028 made
    strip_ws delete an interior space -> \\z everywhere), and Java's
    \\b is Unicode-aware while RE2's is ASCII (CJK-adjacent IPs
    redacted on DuckDB only -> explicit guard classes)."""
    import random

    from tia_data_pipeline_spark.functions import text as TXF

    rng = random.Random(31337)
    alphabet = (
        list("abcdefghij XYZ0123456789.,;:!?#…")
        + ["...", "\t", "\n", "\r\n", "\r", " ", " ", "　",
           "der ", "die ", "the ", "el ", "le ", "und ", "日本語", "漢字",
           "a@b.co", "+1-555-123-4567", "192.168.0.1", "-", "--", "'", '"', "\u2029", "\u0085"]
    )
    cases = []
    for i in range(400):
        n = rng.randrange(0, 40)
        cases.append((i, "".join(rng.choice(alphabet) for _ in range(n))))
    df = spark.createDataFrame(cases, "i int, s string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", cases)

    pairs = [
        ("word_count", TXF.word_count(F.col("s")), TXF.word_count_sql("s")),
        ("bpe", TXF.bpe_token_count(F.col("s")), TXF.bpe_token_count_sql("s")),
        ("quality", TXF.quality_score(F.col("s")), TXF.quality_score_sql("s")),
        ("lang_id", TXF.lang_id(F.col("s")), TXF.lang_id_sql("s")),
        ("canonicalize", TXF.canonicalize(F.col("s")), TXF.canonicalize_sql("s")),
        ("fingerprint", TXF.doc_fingerprint(F.col("s")), TXF.doc_fingerprint_sql("s")),
    ]
    g_cols, g_keep = TXF.gopher_rules(F.col("s"))
    gs_cols, gs_keep = TXF.gopher_rules_sql("s")
    pairs += [(f"gopher.{k}", g_cols[k], gs_cols[k]) for k in g_cols]
    pairs.append(("gopher.keep", g_keep, gs_keep))
    red_col, red_counts = TXF.redact_pii(F.col("s"))
    red_sql, red_counts_sql = TXF.redact_pii_sql("s")
    pairs.append(("pii.redacted", red_col, red_sql))
    pairs += [(f"pii.{k}", red_counts[k], red_counts_sql[k]) for k in red_counts]

    for name, spark_col, sql_frag in pairs:
        got = {r["i"]: r["v"] for r in df.select("i", spark_col.alias("v")).collect()}
        duck = dict(con.sql(f"SELECT i, {sql_frag} FROM t").fetchall())
        bad = [i for i in got if got[i] != duck[i]]
        assert not bad, f"{name}: {len(bad)} mismatches, first: " + repr(
            (cases[bad[0]][1], got[bad[0]], duck[bad[0]])
        )


def test_nearest_centroid_argmin_fuzz_vs_duckdb(spark):
    """Round-7 portable construction: q_semantic_dedup's cell
    assignment — |v−c|² expanded as (v·v − 2·v·c) + c·c with every term
    a dot-product fold (bit-identical to list_dot_product) or a shared
    literal, argmin with the lexicographic (distance, index) tiebreak.
    Fuzzed over random vectors INCLUDING near-tie geometry (vectors
    sampled close to centroid midpoints) — the cell index must match
    DuckDB's CASE-chain form exactly on every row."""
    import random

    from tia_data_pipeline_spark.operators.similarity import (
        nearest_centroid,
        semantic_centroids,
    )

    centers = semantic_centroids()
    dim = len(centers[0])
    rng = random.Random(77)
    rows = []
    for i in range(300):
        if i % 3 == 0:
            # midpoint stress: halfway between two random centers plus
            # tiny jitter — maximizes near-tie argmin comparisons
            a, b = rng.sample(range(len(centers)), 2)
            v = [
                (centers[a][j] + centers[b][j]) / 2 + rng.uniform(-1e-9, 1e-9)
                for j in range(dim)
            ]
        else:
            v = [round(rng.uniform(-3, 3), 6) for _ in range(dim)]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "i int, v array<double>")
    got = {
        r["i"]: r["cell"]
        for r in df.select(
            "i", nearest_centroid(F.col("v"), centers).alias("cell")
        ).collect()
    }
    ds = []
    for c in centers:
        lits = ", ".join(repr(x) for x in c)
        cc = repr(sum(x * x for x in c))
        ds.append(
            f"((list_dot_product(v::DOUBLE[], v::DOUBLE[]) - 2.0 * "
            f"list_dot_product(v::DOUBLE[], [{lits}]::DOUBLE[])) + {cc})"
        )
    k = len(ds)
    whens = []
    for i in range(k):
        conds = [f"(d{i} < d{j})" for j in range(i)] + [
            f"(d{i} <= d{j})" for j in range(i + 1, k)
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN {i}")
    case = "(CASE " + " ".join(whens[: k - 1]) + f" ELSE {k - 1} END)"
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, v DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dcols = ", ".join(f"{d} AS d{i}" for i, d in enumerate(ds))
    duck = dict(
        con.sql(f"SELECT i, {case} FROM (SELECT i, {dcols} FROM t)").fetchall()
    )
    assert got == duck


def test_dsir_bucket_and_bpe_pairs_fuzz_vs_duckdb(spark):
    """Round-7 portable constructions, fuzzed on adversarial-unicode
    tokens: (a) the 2-md5-digit 256-bucket feature hash
    (q_dsir_weights) and (b) the character-pair extraction of
    q_bpe_train (Spark split(w,'') zip vs DuckDB substring over
    range(1, len)) — codepoint-aligned on BMP and astral input."""
    import random

    from tia_data_pipeline_spark.plans.curation import _DSIR_BUCKET_SQL

    rng = random.Random(99)
    pool = list("abcdefghijklmnopqrstuvwxyz") + [
        "\u00e9", "\u00df", "\u65e5", "\u672c", "\u8a9e",
        "\u03a9", "\u00c0", "\U0001d518", "\U0001f600",
    ]
    words = []
    for i in range(300):
        ln = rng.randrange(1, 8)
        words.append((i, "".join(rng.choice(pool) for _ in range(ln))))
    df = spark.createDataFrame(words, "i int, tok string")
    got_b = {
        r["i"]: r["b"] for r in df.selectExpr("i", f"{_DSIR_BUCKET_SQL} AS b").collect()
    }
    cs = F.split(F.col("tok"), "")
    m = F.size(cs) - 1
    pair_arr = F.transform(
        F.arrays_zip(F.slice(cs, 1, m), F.slice(cs, 2, m)),
        lambda s: F.array(s["0"], s["1"]),
    )
    got_p = {
        r["i"]: r["p"]
        for r in df.select("i", F.to_json(pair_arr).alias("p")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, tok VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", words)
    duck_b = dict(con.sql(f"SELECT i, {_DSIR_BUCKET_SQL} FROM t").fetchall())
    duck_p = dict(
        con.sql(
            "SELECT i, to_json([[substring(tok, i2, 1), "
            "substring(tok, i2 + 1, 1)] FOR i2 IN range(1, len(tok))]) FROM t"
        ).fetchall()
    )
    assert got_b == duck_b
    assert got_p == duck_p

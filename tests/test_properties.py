"""Property-based engine-vs-DuckDB parity (SURVEY §5 test plan, item 3):
random rows through the scalar function library (D17-D19) and the exact-dedup
key path (D29), asserting both engines agree on arbitrary inputs — not just
the fixed testdata distributions.

Each example ships one small batch through a real Spark job, so examples are
capped low; the value is input-space coverage (empty/whitespace strings,
negative/zero/denormal-ish doubles, duplicate collisions), not volume.
"""

from __future__ import annotations

import itertools

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable ASCII without regex metacharacters or quotes; keeps the SQL
# literal-free (data goes through createDataFrame/register, never inlined)
TEXT = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,:;!?-_",
    min_size=0,
    max_size=40,
)

FINITE = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6, width=64
)


def _compare(spark, sdf_build, sql: str, pdf: pd.DataFrame, sort_cols: list[str]):
    sdf = sdf_build(spark.createDataFrame(pdf)).toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(sql).fetchdf()
    con.close()
    s = sdf.sort_values(sort_cols).reset_index(drop=True)
    o = odf.sort_values(sort_cols).reset_index(drop=True)
    assert list(s.columns) == list(o.columns)
    pd.testing.assert_frame_equal(s, o, check_dtype=False, rtol=0, atol=1e-9)


@SETTINGS
@given(rows=st.lists(TEXT, min_size=1, max_size=20, unique=True))
def test_string_funcs_parity(spark, rows):
    """lower/upper/trim/substr/lpad/length/concat agree on arbitrary ASCII."""
    pdf = pd.DataFrame({"s": rows})

    def build(df):
        return df.select(
            "s",
            F.lower("s").alias("lo"),
            F.upper("s").alias("up"),
            F.trim("s").alias("tr"),
            F.substring("s", 2, 5).alias("sub"),
            F.lpad("s", 10, "x").alias("pad"),
            F.length("s").cast("long").alias("len"),
            F.concat(F.lit("p:"), F.col("s")).alias("cat"),
        )

    _compare(
        spark,
        build,
        """
        SELECT s, lower(s) AS lo, upper(s) AS up, trim(s) AS tr,
               substr(s, 2, 5) AS sub, lpad(s, 10, 'x') AS pad,
               CAST(length(s) AS BIGINT) AS len, 'p:' || s AS cat
        FROM t
        """,
        pdf,
        ["s"],
    )


@SETTINGS
@given(rows=st.lists(FINITE, min_size=1, max_size=20, unique=True))
def test_math_funcs_parity(spark, rows):
    """round/floor/ceil/abs/sign/sqrt/pmod agree on arbitrary finite doubles."""
    pdf = pd.DataFrame({"x": rows})

    def build(df):
        return df.select(
            "x",
            F.round("x", 3).alias("r"),
            F.floor("x").cast("double").alias("fl"),
            F.ceil("x").cast("double").alias("ce"),
            F.abs("x").alias("ab"),
            F.signum("x").alias("sg"),
            F.sqrt(F.abs("x")).alias("sq"),
            F.pmod(F.floor("x").cast("long"), F.lit(7)).cast("long").alias("pm"),
        )

    _compare(
        spark,
        build,
        """
        SELECT x, round(x, 3) AS r,
               CAST(floor(x) AS DOUBLE) AS fl, CAST(ceil(x) AS DOUBLE) AS ce,
               abs(x) AS ab, sign(x) AS sg, sqrt(abs(x)) AS sq,
               CAST(((CAST(floor(x) AS BIGINT) % 7) + 7) % 7 AS BIGINT) AS pm
        FROM t
        """,
        pdf,
        ["x"],
    )


@SETTINGS
@given(
    rows=st.lists(TEXT, min_size=1, max_size=10),
    dups=st.integers(min_value=1, max_value=3),
)
def test_exact_dedup_key_parity(spark, rows, dups):
    """The D29 normalize+md5 dedup key: duplicated inputs (including
    whitespace-variant near-copies) collapse identically in both engines."""
    variants = []
    for r in rows:
        variants.append(r)
        for _ in range(dups):
            variants.append("  " + r + " ")  # whitespace variants, same key
    pdf = pd.DataFrame({"text": variants})

    def build(df):
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        return (
            df.select(F.md5(norm.cast("binary")).alias("k"))
            .distinct()
            .orderBy("k")
        )

    _compare(
        spark,
        build,
        """
        SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS k
        FROM t ORDER BY k
        """,
        pdf,
        ["k"],
    )


def test_d11_approx_count_distinct_tolerance(spark, ddb):
    """SURVEY D11: the HLL++ estimate must be within 5% of the exact count."""
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    approx = queries()["d11_approx_count_distinct"](spark, SF_ORACLE).collect()[0][0]
    exact = ddb.execute("SELECT COUNT(DISTINCT o_custkey) FROM orders").fetchone()[0]
    assert abs(approx - exact) / exact <= 0.05


def test_d11_approx_percentile_tolerance(spark, ddb):
    """The percentile sketch must sit within 1% relative error of exact."""
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = {
        r["l_returnflag"]: r
        for r in queries()["d11_approx_percentile"](spark, SF_ORACLE).collect()
    }
    exact = ddb.execute(
        """SELECT l_returnflag,
                  quantile_cont(l_extendedprice, 0.5)  AS p50,
                  quantile_cont(l_extendedprice, 0.95) AS p95
           FROM lineitem GROUP BY l_returnflag"""
    ).fetchall()
    for flag, p50, p95 in exact:
        assert abs(rows[flag]["p50_approx"] - p50) / p50 <= 0.01
        assert abs(rows[flag]["p95_approx"] - p95) / p95 <= 0.01


@SETTINGS
@given(rows=st.lists(st.integers(min_value=0, max_value=2**31), min_size=1, max_size=30, unique=True))
def test_hash_bucket_cross_engine_parity(spark, rows):
    """The md5 split/sample bucket (D2 family) must be identical in both
    engines for arbitrary keys — permanent split membership depends on it."""
    from conceptnetwork_spark.operators.sampling import hash_bucket

    pdf = pd.DataFrame({"k": rows})
    _compare(
        spark,
        lambda df: df.select("k", hash_bucket(F.col("k")).alias("b")),
        """SELECT k, CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
           FROM t""",
        pdf,
        ["k"],
    )


@SETTINGS
@given(rows=st.lists(st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=20, unique=True))
def test_variant_extraction_parity(spark, rows):
    """parse_json + variant_get must agree with DuckDB json extraction on
    arbitrary integer payloads (D21 variant path)."""
    pdf = pd.DataFrame({"j": [f'{{"v": {r}}}' for r in rows], "k": rows})
    _compare(
        spark,
        lambda df: df.select(
            "k", F.variant_get(F.parse_json("j"), "$.v", "bigint").alias("v")
        ),
        "SELECT k, CAST(json_extract_string(j, '$.v') AS BIGINT) AS v FROM t",
        pdf,
        ["k"],
    )


def test_chunk_text_invariants(spark):
    """Structural invariants of the sliding-window chunker on real docs:
    stride-spaced starts, full-size interior chunks, complete coverage of
    the token stream (last chunk ends at len(tokens))."""
    from pyspark.sql import functions as F

    from conceptnetwork_spark.operators.text import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        d31_chunk_text,
    )
    from tests.conftest import SF_SMOKE

    chunks = d31_chunk_text(spark, SF_SMOKE)
    toks = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id",
        F.size(
            F.split(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))), " ")
        ).alias("n_toks"),
    )
    j = chunks.join(toks, "doc_id")
    bad_start = j.where(
        F.col("start_tok") != F.col("chunk_id") * CHUNK_STRIDE + 1
    ).count()
    assert bad_start == 0
    # interior chunks are full-size; only the per-doc last chunk may be short
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    short_interior = (
        j.withColumn("max_chunk", F.max("chunk_id").over(w))
        .where(
            (F.col("chunk_id") < F.col("max_chunk"))
            & (F.col("n_tokens") != CHUNK_SIZE)
        )
        .count()
    )
    assert short_interior == 0
    # coverage: the last chunk reaches exactly the end of the token stream
    uncovered = (
        j.withColumn("max_chunk", F.max("chunk_id").over(w))
        .where(F.col("chunk_id") == F.col("max_chunk"))
        .where(F.col("start_tok") + F.col("n_tokens") - 1 != F.col("n_toks"))
        .count()
    )
    assert uncovered == 0


def test_decontaminate_benchmark_copies_flagged(spark):
    """A candidate doc that is an EXACT copy of a benchmark-slice doc must
    score contamination == 1.0 (all its 5-grams are in the benchmark set) —
    checked against the exact-dup clusters that straddle the %17 split."""
    import duckdb

    from conceptnetwork_spark.operators.dedup import DECON_MOD, d29_decontaminate

    con = duckdb.connect()
    # the sf0.1 corpus plants an exact-dup pair straddling the %17 split
    # (smaller sfs don't) — use it so this invariant actually executes
    sf = "/root/testdata/sf0.1"
    straddlers = con.execute(
        f"""
        WITH h AS (SELECT doc_id, md5(text) AS hh
                   FROM '{sf}/documents.parquet')
        SELECT a.doc_id FROM h a JOIN h b ON a.hh = b.hh
        WHERE a.doc_id % {DECON_MOD} != 0 AND b.doc_id % {DECON_MOD} = 0
        """
    ).fetchall()
    ids = [r[0] for r in straddlers]
    if not ids:  # corpus regenerated without a straddling dup
        import pytest

        pytest.skip("no exact-dup pair straddles the benchmark split")
    got = {
        r.doc_id: r.contamination
        for r in d29_decontaminate(spark, sf)
        .where(F.col("doc_id").isin(ids))
        .collect()
    }
    assert got and all(v == 1.0 for v in got.values()), got


def test_hll_merge_fidelity(spark):
    """Mergeability: the union of per-group HLL sketches must agree with a
    single whole-table sketch to <0.5% (the datasketches union re-targets
    the register format, so estimates differ by a hair rather than being
    bit-identical — measured 1488 vs 1492 on sf0.01), and both land within
    2% of the exact distinct count."""
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    out = {
        r.o_orderpriority: r.approx_custs
        for r in queries()["d11_hll_merge"](spark, SF_ORACLE).collect()
    }
    whole = (
        spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("e"))
        .collect()[0]["e"]
    )
    assert abs(out["__ALL__"] - whole) / whole < 0.005
    exact = (
        spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert abs(out["__ALL__"] - exact) / exact < 0.02


def test_token_budget_invariants(spark):
    """Greedy-until-exceed admission: per domain, the admitted token sum
    minus its LAST (largest-cum) doc must be under budget (every admitted
    doc started below the line), and dropping any admitted doc keeps the
    rest admitted (prefix property of the cum ordering)."""
    from conceptnetwork_spark.operators.pipeline import TOKEN_BUDGET
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d34_token_budget"](spark, SF_ORACLE).collect()
    assert rows, "no docs admitted"
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, docs in by_src.items():
        # each admitted doc's pre-doc cumulative is under budget
        for d in docs:
            assert d.cum_tokens - d.tokens < TOKEN_BUDGET, (src, d.doc_id)
        # budget binds: total admitted stays under budget + one doc
        total = sum(d.tokens for d in docs)
        biggest = max(d.tokens for d in docs)
        assert total < TOKEN_BUDGET + biggest, src


def test_block_dedup_invariants(spark):
    """Per-doc audit must be self-consistent (kept + dropped <= blocks,
    non-negative) and globally some duplicate blocks must actually drop
    (the corpus plants exact duplicates)."""
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d31_block_dedup"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_dropped <= r.n_blocks
        assert r.n_kept + r.n_dropped == r.n_blocks
        assert r.n_kept <= r.n_blocks
    assert sum(r.n_dropped for r in rows) > 0, "no duplicate blocks dropped"


def test_temperature_mix_flattens(spark):
    """Alpha<1 rebalancing must (a) keep the rarest language in full,
    (b) never upsample, and (c) strictly shrink the spread between the
    most- and least-common language's share."""
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d02_temperature_mix"](spark, SF_ORACLE).collect()
    assert rows
    rarest = min(rows, key=lambda r: r.n_docs)
    assert rarest.bp == 10000, "rarest language must keep 100%"
    for r in rows:
        assert r.bp <= 10000 and r.n_kept <= r.n_docs
    before = max(r.n_docs for r in rows) / min(r.n_docs for r in rows)
    after = max(r.n_kept for r in rows) / min(r.n_kept for r in rows)
    assert after < before, f"mixture not flattened: {after} !< {before}"


def test_interpolate_bounds(spark):
    """Interpolated values must lie within [min(pv, nv), max(pv, nv)] —
    linear interpolation never overshoots its endpoints; observed values
    pass through unchanged."""
    from pyspark.sql import functions as F

    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    df = queries()["d14_linear_interpolate"](spark, SF_ORACLE)
    ev = spark.read.parquet(f"{SF_ORACLE}/events.parquet").where(
        F.col("event_type") == "click"
    )
    joined = df.join(ev.select("event_id", "value"), "event_id")
    # observed rows (event_id % 5 not in (2,3)) must be unchanged
    observed = joined.where(~(F.col("event_id") % 5).isin(2, 3))
    bad = observed.where(
        F.abs(F.col("v_interp") - F.round(F.col("value"), 4)) > 1e-9
    ).count()
    assert bad == 0, f"{bad} observed values altered by interpolation"


def test_jpeg_walker_never_raises():
    """Fuzz the JPEG marker walker: arbitrary byte strings must parse to
    None or a well-formed (w, h, ncomp) triple — never raise. A corrupt
    file in a 100 TB multimodal ingest must route to quarantine, not kill
    the executor."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from conceptnetwork_spark.operators.multimodal import parse_jpeg_header

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=64))
    def fuzz(buf):
        out = parse_jpeg_header(buf)
        assert out is None or (
            len(out) == 3 and all(isinstance(x, int) for x in out)
        )

    fuzz()

    # prefix-mutation fuzz over a REAL jpeg: truncations and byte flips
    from conceptnetwork_spark.operators.multimodal import make_jpeg_bytes

    jpg = make_jpeg_bytes(320, 200, 60)

    @settings(max_examples=200, deadline=None)
    @given(st.integers(0, len(jpg) - 1), st.integers(0, 255))
    def mutate(pos, val):
        buf = jpg[:pos] + bytes([val]) + jpg[pos + 1 :]
        out = parse_jpeg_header(buf)
        assert out is None or len(out) == 3

    mutate()


def test_repro_fingerprint_partition_invariant(spark):
    """The reproducibility fingerprint must be IDENTICAL under any input
    partitioning — the property that makes it a valid cross-cluster /
    cross-run change detector (XOR aggregation is order-free)."""
    from conceptnetwork_spark.operators.pipeline import repro_fingerprint

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = repro_fingerprint(docs.repartition(3)).collect()
    b = repro_fingerprint(docs.repartition(17, "lang")).collect()
    c = repro_fingerprint(docs.coalesce(1)).collect()
    assert a == b == c, "fingerprint depends on partitioning"


def test_unicode_clean_idempotent():
    """clean(clean(x)) == clean(x): the NFC + control-scrub + whitespace
    canonicalization must be a projection (idempotent), or re-running the
    ingest would keep changing bytes and every downstream content hash."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from conceptnetwork_spark.operators.text import _nfc_clean_series

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=80))
    def check(s):
        once = _nfc_clean_series(pd.Series([s]))[0]
        twice = _nfc_clean_series(pd.Series([once]))[0]
        assert once == twice

    check()


# --------------------------------------------------------------------------
# d15_skyline's vectorized local-skyline kernel vs brute-force dominance
# --------------------------------------------------------------------------
@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),   # price level (coarse -> ties)
            st.integers(min_value=0, max_value=9),   # size
        ),
        min_size=0,
        max_size=40,
    )
)
def test_skyline_kernel_matches_bruteforce(points):
    """_skyline_pdf (cummax-over-price-levels vectorization) must equal the
    O(n^2) dominance definition on arbitrary multisets, including duplicate
    points (which survive: nothing strictly dominates them) and all-tied
    inputs."""
    import pandas as pd

    from conceptnetwork_spark.operators.relational import _skyline_pdf

    pdf = pd.DataFrame(
        {
            "p_partkey": range(len(points)),
            "p_size": [s for _, s in points],
            "price": [float(p) for p, _ in points],
        }
    )
    got = set(_skyline_pdf(pdf)["p_partkey"])
    brute = set()
    for i, (pi, si) in enumerate(points):
        dominated = any(
            (pj <= pi and sj >= si and (pj < pi or sj > si))
            for j, (pj, sj) in enumerate(points)
            if j != i
        )
        if not dominated:
            brute.add(i)
    assert got == brute, (sorted(got), sorted(brute), points)


def test_soundex_oracle_algorithm_matches_spark_builtin(spark, ddb):
    """d17_soundex's from-scratch NARA-rules oracle must agree with Spark's
    built-in soundex beyond the corpus vocabulary: 300 seeded random alpha
    words, including H/W-initial, vowel-initial, single-letter, and
    repeated-consonant shapes."""
    import random

    rng = random.Random(20260814)
    words = sorted(
        {
            "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(1, 12))
            )
            for _ in range(300)
        }
        | {"white", "ashcraft", "tymczak", "pfister", "small", "honeydew", "a", "h", "w"}
    )
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([(w,) for w in words], "word string").select(
        "word", F.soundex(F.upper("word")).alias("sdx")
    )
    got = {r.word: r.sdx for r in sdf.collect()}
    vals = ", ".join(f"('{w}')" for w in words)
    oracle = f"""
    WITH w AS (SELECT UPPER(word) AS word FROM (VALUES {vals}) t(word)),
    coded AS (
      SELECT word,
             regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(
               translate(translate(translate(word, 'HW', ''),
                         'BFPVCGJKQSXZDTLMNR', '111122222222334556'),
                         'AEIOUY', '......'),
               '1{{2,}}', '1', 'g'), '2{{2,}}', '2', 'g'), '3{{2,}}', '3', 'g'),
               '4{{2,}}', '4', 'g'), '5{{2,}}', '5', 'g'), '6{{2,}}', '6', 'g')
               AS collapsed
      FROM w
    ), tail AS (
      SELECT word,
             CASE WHEN substr(word, 1, 1) NOT IN
                       ('A','E','I','O','U','Y','H','W')
                  THEN substr(collapsed, 2) ELSE collapsed END AS t
      FROM coded
    )
    SELECT word,
           substr(word, 1, 1) || substr(translate(t, '.', '') || '000', 1, 3)
             AS sdx
    FROM tail
    """.replace("{{", "{").replace("}}", "}")
    want = {w.lower(): s for w, s in ddb.execute(oracle).fetchall()}
    mismatches = {w: (got[w], want[w]) for w in got if got[w] != want[w]}
    assert not mismatches, dict(list(mismatches.items())[:10])


def test_business_days_closed_form_matches_bruteforce(spark):
    """The seven-term weekday closed form vs a literal day-by-day count,
    over every start date in a 500-day span (covers every weekday phase
    and several month/year boundaries)."""
    import datetime as dt

    from conceptnetwork_spark.operators.relational import BDAY_HORIZON

    horizon = dt.date.fromisoformat(BDAY_HORIZON)

    def brute(a: dt.date) -> int:
        return sum(
            1
            for k in range((horizon - a).days)
            if (a + dt.timedelta(days=k)).isoweekday() <= 5
        )

    starts = [
        dt.date(1999, 1, 1) + dt.timedelta(days=i) for i in range(500)
    ]
    df = spark.createDataFrame([(d.isoformat(),) for d in starts], "d string")
    from pyspark.sql import functions as F

    dd = F.col("d").cast("date")
    total = F.datediff(F.lit(BDAY_HORIZON).cast("date"), dd)
    dow = (F.weekday(dd) + 1).cast("int")
    rem = total % 7
    extra = None
    for k in range(7):
        t = F.when((rem > k) & (((dow - 1 + k) % 7) < 5), 1).otherwise(0)
        extra = t if extra is None else extra + t
    got = {
        r["d"]: r["b"]
        for r in df.select(
            "d", (F.floor(total / 7) * 5 + extra).cast("int").alias("b")
        ).collect()
    }
    for a in starts:
        assert got[a.isoformat()] == brute(a), a


def test_bpe_merge_fold_matches_reference(spark):
    """The greedy-leftmost codegen fold vs the python reference merge on
    adversarial symbol arrays: overlapping runs (aaa, aaaa), pair at head
    / tail, no-match, interleavings."""
    from pyspark.sql import functions as F

    from conceptnetwork_spark.operators.pipeline import _merge_pair

    def ref(syms, a, b):
        out, pend = [], None
        for s in syms:
            if pend is None:
                pend = s
            elif pend == a and s == b:
                out.append(a + b)
                pend = None
            else:
                out.append(pend)
                pend = s
        if pend is not None:
            out.append(pend)
        return out

    cases = [
        ["a", "a", "a"],
        ["a", "a", "a", "a"],
        ["a", "b", "a", "b", "a"],
        ["a", "b"],
        ["b", "a"],
        ["x"],
        [],
        ["a", "a", "b", "a", "a"],
        ["b", "b", "a", "b", "b"],
        ["a", "b", "b", "a", "a", "b"],
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, syms array<string>"
    )
    for a, b in (("a", "b"), ("a", "a"), ("b", "b")):
        got = {
            r["i"]: r["m"]
            for r in df.select(
                "i", _merge_pair(F.col("syms"), a, b).alias("m")
            ).collect()
        }
        for i, c in enumerate(cases):
            assert got[i] == ref(c, a, b), (c, a, b, got[i])


def test_weighted_median_invariants(spark, ddb):
    """Equal weights -> the weighted median equals the plain lower-bound
    median of distinct quantities; and the oracle's threshold arithmetic
    is decimal-exact (no row where cw*2 == tw flips by float dust)."""
    import duckdb

    r = ddb.execute(
        """
        WITH g AS (
          SELECT l_returnflag, l_quantity, SUM(CAST(1 AS DECIMAL(12,2))) AS w
          FROM lineitem GROUP BY 1, 2
        ), c AS (
          SELECT l_returnflag, l_quantity,
                 SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cw,
                 SUM(w) OVER (PARTITION BY l_returnflag) AS tw
          FROM g
        ), wm AS (
          SELECT l_returnflag,
                 MIN(CASE WHEN cw * 2 >= tw THEN l_quantity END) AS w_med
          FROM c GROUP BY 1
        ), pm AS (
          SELECT l_returnflag,
                 quantile_disc(DISTINCT l_quantity, 0.5) AS p_med
          FROM lineitem GROUP BY 1
        )
        SELECT COUNT(*) FROM wm JOIN pm USING (l_returnflag)
        WHERE ABS(w_med - p_med) > 1.0
        """
    ).fetchone()
    # lower-bound convention vs quantile_disc can differ by at most one
    # distinct step; a larger gap means the cumulative arithmetic broke
    assert r[0] == 0


# ---------------------------------------------------------------------------
# d34_bpe_encode: rank-order-exhaustive replace == classic priority BPE.
# The oracle's chained-replace construction is correct ONLY IF applying each
# merge exhaustively in rank order equals the standard "repeatedly apply the
# lowest-rank applicable merge" algorithm; hypothesis hunts for a word +
# merge table where they diverge.
# ---------------------------------------------------------------------------
def _bpe_classic(word: str, merges: list[tuple[str, str]]) -> list[str]:
    rank = {m: i for i, m in enumerate(merges)}
    syms = list(word)
    while True:
        best, bi = None, None
        for i in range(len(syms) - 1):
            r = rank.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best, bi = r, i
        if best is None:
            return syms
        syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]


def _bpe_fold(word: str, merges: list[tuple[str, str]]) -> list[str]:
    s = "".join(f"<{c}>" for c in word)
    for a, b in merges:
        s = s.replace(f"<{a}><{b}>", f"<{a}{b}>")
    return s[1:-1].split("><") if s else []


@given(
    word=st.text(alphabet="ab", min_size=0, max_size=12),
    picks=st.lists(st.tuples(st.integers(0, 99), st.integers(0, 99)),
                   max_size=6),
)
def test_bpe_fold_equals_classic_priority_encode(word, picks):
    # WELL-FORMED tables only: each merge's operands must be single chars
    # or outputs of EARLIER merges — the only tables BPE *training* can
    # produce (a pair can't be counted before both symbols exist). The
    # equivalence genuinely fails on malformed tables (e.g. word 'aba'
    # with merges [(a,ba), (b,a)]), which is why the d34_bpe_encode merge
    # table is constructed in creation order.
    vocab = ["a", "b"]
    merges = []
    for i, j in picks:
        m = (vocab[i % len(vocab)], vocab[j % len(vocab)])
        if m not in merges:
            merges.append(m)
            vocab.append(m[0] + m[1])
    assert _bpe_fold(word, merges) == _bpe_classic(word, merges)


# ---------------------------------------------------------------------------
# d11_kmv_sketch / d11_theta_setops: KMV mergeability — the sketch of a
# union is the K smallest of the concatenated per-shard sketches, and the
# estimator is within theory error bounds on seeded data.
# ---------------------------------------------------------------------------
@given(
    a=st.sets(st.integers(0, 2**40), min_size=1, max_size=300),
    b=st.sets(st.integers(0, 2**40), min_size=1, max_size=300),
)
@settings(max_examples=30)
def test_kmv_sketch_mergeable(a, b):
    import hashlib

    K = 16

    def h(x: int) -> int:
        return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)

    def sketch(s):
        return sorted({h(x) for x in s})[:K]

    merged = sorted(set(sketch(a)) | set(sketch(b)))[:K]
    assert merged == sketch(a | b)


def test_kmv_estimator_bounds():
    import hashlib

    K = 64
    n = 5000
    hs = sorted(
        int(hashlib.md5(f"u{i}".encode()).hexdigest()[:15], 16)
        for i in range(n)
    )
    est = (K - 1) * (16**15) / hs[K - 1]
    # KMV relative error is ~1/sqrt(K-2) ~ 13%; allow 4 sigma
    assert abs(est - n) / n < 0.52


# ---------------------------------------------------------------------------
# d02_poisson_bootstrap: the discretized weight table approximates
# Poisson(1) (mean ~1, pmf close) and weights are a pure function of
# (key, replicate)
# ---------------------------------------------------------------------------
def test_bootstrap_weight_table_poissonish():
    from conceptnetwork_spark.operators.sampling import BOOT_W

    assert len(BOOT_W) == 16
    mean = sum(BOOT_W) / len(BOOT_W)
    assert abs(mean - 1.0) <= 0.1
    from collections import Counter

    pmf = Counter(BOOT_W)
    assert pmf[0] == pmf[1]  # Poisson(1): P(0) == P(1)
    assert pmf[2] < pmf[1] and pmf[3] < pmf[2]


# ---------------------------------------------------------------------------
# d14_holt_linear: on a constant series the level equals the constant and
# the trend stays 0; on a perfect line the 1-step forecast tracks the line.
# ---------------------------------------------------------------------------
def test_holt_recurrence_invariants():
    from conceptnetwork_spark.operators.relational import HOLT_ALPHA, HOLT_BETA

    def run(ys):
        l, b = ys[0], 0.0
        for y in ys[1:]:
            ln = HOLT_ALPHA * y + (1 - HOLT_ALPHA) * (l + b)
            b = HOLT_BETA * (ln - l) + (1 - HOLT_BETA) * b
            l = ln
        return l, b

    l, b = run([7.5] * 50)
    assert abs(l - 7.5) < 1e-9 and abs(b) < 1e-9
    l, b = run([float(i) for i in range(200)])
    # a converged linear trend forecasts the next point
    assert abs((l + b) - 200.0) < 0.1


# ---------------------------------------------------------------------------
# d32_image_patchify / d32_audio_energy: the vectorized kernels equal naive
# per-element loops on random inputs.
# ---------------------------------------------------------------------------
@given(
    h=st.integers(2, 9), w=st.integers(2, 7),
    seed=st.integers(0, 2**31),
)
@settings(max_examples=30)
def test_patchify_block_sums_match_naive(h, w, seed):
    import numpy as np

    rng = np.random.RandomState(seed % (2**32 - 1))
    arr = rng.randint(0, 256, size=(h, w, 3)).astype(np.int64)
    th, tw = h // 2, w // 2
    blocks = arr[: th * 2, : tw * 2].reshape(th, 2, tw, 2, 3)
    sums = blocks.sum(axis=(1, 3, 4))
    for r in range(th):
        for c in range(tw):
            naive = int(
                arr[2 * r : 2 * r + 2, 2 * c : 2 * c + 2, :].sum()
            )
            assert int(sums[r, c]) == naive


@given(n=st.integers(10, 80), seed=st.integers(0, 2**31))
@settings(max_examples=30)
@example(n=16, seed=13628)  # host pow() quirk discovered by hypothesis r9
def test_audio_framing_matches_naive(n, seed):
    import math

    import numpy as np

    rng = np.random.RandomState(seed % (2**32 - 1))
    s = rng.randint(-(2**15), 2**15, size=n).astype(np.int64)
    F_ = 16
    for f in range(n // F_):
        fr = s[f * F_ : (f + 1) * F_]
        nonneg = fr >= 0
        zc = int((nonneg[1:] != nonneg[:-1]).sum())
        naive = sum(
            1
            for i in range(1, F_)
            if (fr[i] >= 0) != (fr[i - 1] >= 0)
        )
        assert zc == naive
        # naive RMS mirror must use sqrt, NOT `** 0.5`: x ** 0.5 goes
        # through libm pow(), which is not correctly rounded on every
        # host (seed=13628 differs in the last ulp here), while sqrt IS
        # IEEE-correctly-rounded everywhere — the same reason the engine
        # and oracle both compute RMS via sqrt (d32_audio_energy).
        assert float(np.sqrt(float((fr * fr).sum()) / F_)) == math.sqrt(
            float(sum(int(x) * int(x) for x in fr)) / F_
        )


# ---------------------------------------------------------------------------
# d11_bloom_filter: structural no-false-negative guarantee on random sets
# (pure-python mirror of the md5-position construction)
# ---------------------------------------------------------------------------
@given(
    build=st.sets(st.integers(0, 10**6), min_size=1, max_size=200),
    probe=st.sets(st.integers(0, 10**6), min_size=1, max_size=200),
)
@settings(max_examples=30)
def test_bloom_no_false_negatives(build, probe):
    import hashlib

    from conceptnetwork_spark.operators.relational import BLOOM_K, BLOOM_M

    def positions(k: str):
        h = hashlib.md5(k.encode()).hexdigest()
        return [int(h[8 * i : 8 * i + 8], 16) % BLOOM_M for i in range(BLOOM_K)]

    bits = {p for x in build for p in positions(str(x))}
    for x in probe & build:
        assert all(p in bits for p in positions(str(x)))


# ---------------------------------------------------------------------------
# d07_band_join: the 3-bucket equi-join decomposition is LOSSLESS — any
# pair within the band lands in the same or adjacent delta-width cells.
# ---------------------------------------------------------------------------
@given(
    ts=st.lists(st.integers(0, 10**7), min_size=2, max_size=60),
    delta=st.integers(1, 10**5),
)
@settings(max_examples=50)
def test_band_bucket_decomposition_lossless(ts, delta):
    pairs_naive = {
        (a, b) for a in ts for b in ts if abs(a - b) <= delta
    }
    pairs_bucketed = set()
    for a in ts:
        for b in ts:
            if a // delta in (b // delta - 1, b // delta, b // delta + 1):
                if abs(a - b) <= delta:
                    pairs_bucketed.add((a, b))
    assert pairs_bucketed == pairs_naive


# ---------------------------------------------------------------------------
# d17_jaro_winkler: the from-scratch scorer must agree with DuckDB's
# independent implementation on ARBITRARY strings, not just the 190 blocked
# part-name pairs the oracle covers.
# ---------------------------------------------------------------------------
@given(
    a=st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), max_size=12),
    b=st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), max_size=12),
)
@settings(max_examples=300)
def test_jaro_winkler_matches_duckdb_on_random_strings(a, b):
    from conceptnetwork_spark.operators.scalar import _jaro_winkler_py

    got = _jaro_winkler_py(a, b)
    want = duckdb.sql(
        "SELECT jaro_winkler_similarity(?, ?)", params=[a, b]
    ).fetchone()[0]
    assert abs(got - want) < 1e-9, (a, b, got, want)


# ---------------------------------------------------------------------------
# d34_pack_attention_spans: every NON-TAIL context window's segments must
# tile [0, PACK_CTX) exactly — no gaps, no overlaps — and segment count per
# doc equals the number of windows it crosses.
# ---------------------------------------------------------------------------
@given(
    tokens=st.lists(st.integers(1, 1500), min_size=1, max_size=40),
    ctx=st.sampled_from([128, 512]),
)
@settings(max_examples=100)
def test_pack_span_tiling_property(tokens, ctx):
    # reference single-threaded packer over one (split, shard) stream
    segs: dict[int, list[tuple[int, int]]] = {}
    g = 0
    for t in tokens:
        w0, w1 = g // ctx, (g + t - 1) // ctx
        for w in range(w0, w1 + 1):
            s = max(g, w * ctx) - w * ctx
            e = min(g + t, (w + 1) * ctx) - w * ctx
            segs.setdefault(w, []).append((s, e))
        g += t
    last = max(segs)
    for w, spans in segs.items():
        spans.sort()
        # contiguity: each span starts where the previous ended
        pos = 0
        for s, e in spans:
            assert s == pos and e > s, (w, spans)
            pos = e
        if w < last:
            assert pos == ctx, (w, spans)  # full windows tile exactly


def test_cramers_v_bounds_and_dof(spark):
    """Cramér's V lies in [0,1] by construction (chi² ≤ N·(min(r,c)−1));
    dof is positive and chi² non-negative for every measured pair."""
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d10_cramers_v"](spark, SF_ORACLE).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.n > 0 and r.dof >= 1, r
        assert r.chi2 >= 0, r
        assert 0.0 <= r.cramers_v <= 1.0, r


def test_stable_moments_match_two_pass_numpy(spark):
    """The centered two-pass aggregates must agree with a straight numpy
    computation on the collected column — the cross-check that the
    broadcast-join plan computes the same estimator it claims."""
    import numpy as np

    from conceptnetwork_spark.catalog import Catalog
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    got = {
        r.l_returnflag: r
        for r in queries()["d10_stable_moments"](spark, SF_ORACLE).collect()
    }
    pdf = (
        Catalog(spark, SF_ORACLE)
        .lineitem.select("l_returnflag", "l_extendedprice")
        .toPandas()
    )
    for rf, grp in pdf.groupby("l_returnflag"):
        x = grp["l_extendedprice"].to_numpy()
        d = x - x.mean()
        m2, m3, m4 = (np.mean(d**k) for k in (2, 3, 4))
        r = got[rf]
        assert r.n == len(x)
        assert abs(r.skewness - m3 / m2**1.5) < 1e-3, rf
        assert abs(r.kurtosis_excess - (m4 / m2**2 - 3)) < 1e-3, rf


def test_interval_merge_conservation(spark):
    """Interval coalescing conserves intervals (Σ n_intervals = |events|),
    never grows islands past inputs (n_merged ≤ n_intervals), and covered
    time is bounded below by the longest single interval (≥ 5 min) and
    above by the sum of interval lengths (≤ 124 min each)."""
    from conceptnetwork_spark.catalog import Catalog
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d27_interval_merge"](spark, SF_ORACLE).collect()
    n_events = Catalog(spark, SF_ORACLE).events.count()
    assert sum(r.n_intervals for r in rows) == n_events
    for r in rows:
        assert 1 <= r.n_merged <= r.n_intervals, r
        assert r.covered_sec >= 5 * 60, r
        assert r.covered_sec <= r.n_intervals * 124 * 60, r
        assert 0.0 <= r.merge_ratio < 1.0, r


def test_shard_dup_matrix_ties_out_against_block_dedup(spark):
    """The matrix's total within+cross pair mass must reproduce the
    Σ C(n_docs,2) computed independently per duplicated block from the
    raw (block → distinct docs) relation — the self-join introduces no
    double counting and drops no pair."""
    from pyspark.sql import functions as F

    from conceptnetwork_spark.catalog import Catalog
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d29_shard_dup_matrix"](spark, SF_ORACLE).collect()
    assert rows, "corpus plants repeated blocks; matrix must be non-empty"
    got_pairs = sum(r.n_pairs for r in rows)
    d = Catalog(spark, SF_ORACLE).documents
    toks = F.split(
        F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " "
    )
    nblocks = F.ceil(F.size(F.col("toks")) / F.lit(12.0)).cast("int")
    b = (
        d.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id", "toks",
            F.explode(F.sequence(F.lit(0), nblocks - 1)).alias("i"),
        )
        .where(F.size("toks") - F.col("i") * 12 >= 12)
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("i") * 12 + 1, 12)
            ).alias("block"),
        )
        .distinct()
    )
    per_block = (
        b.groupBy("block")
        .agg(F.countDistinct("doc_id").alias("n"))
        .where(F.col("n") >= 2)
        .select(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p"))
        .collect()[0]
        .p
    )
    assert got_pairs == int(per_block), (got_pairs, per_block)


def test_seq_len_histogram_invariants(spark):
    """Buckets are powers of two covering every doc exactly once
    (Σ n_docs = |documents|), every doc's token count fits its bucket,
    and both cumulative shares are monotone, ending at 1.0."""
    from conceptnetwork_spark.catalog import Catalog
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d34_seq_len_histogram"](spark, SF_ORACLE).collect()
    n_docs = Catalog(spark, SF_ORACLE).documents.count()
    assert sum(r.n_docs for r in rows) == n_docs
    prev_doc = prev_tok = 0.0
    for r in rows:
        assert r.bucket & (r.bucket - 1) == 0, r  # power of two
        assert r.sum_tokens <= r.n_docs * r.bucket, r
        assert r.cum_doc_share >= prev_doc and r.cum_token_share >= prev_tok
        prev_doc, prev_tok = r.cum_doc_share, r.cum_token_share
    assert prev_doc == 1.0 and prev_tok == 1.0


def test_twap_conservation_and_weighting(spark):
    """Every event except each type's LAST one contributes a hold
    (Σ n_holds = |events| − |types|); TWAP lies within the observed value
    range of its type (it is a convex combination of values)."""
    from pyspark.sql import functions as F

    from conceptnetwork_spark.catalog import Catalog
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d14_twap"](spark, SF_ORACLE).collect()
    ev = Catalog(spark, SF_ORACLE).events
    n_events = ev.count()
    n_types = ev.select("event_type").distinct().count()
    assert sum(r.n_holds for r in rows) == n_events - n_types
    rng = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for r in rows:
        assert rng[r.event_type].lo - 1e-9 <= r.twap <= rng[r.event_type].hi + 1e-9
        assert r.total_sec > 0


def test_winsorize_clip_counts_and_pull(spark):
    """Each fence clips ≈5% of its group (within the granularity of a
    linear-interpolated percentile on n rows), and the winsorized mean
    never moves outside the fences."""
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    for r in queries()["d14_winsorize"](spark, SF_ORACLE).collect():
        assert r.n_clipped_low <= r.n * 0.05 + 1, r
        assert r.n_clipped_high <= r.n * 0.05 + 1, r
        assert r.p05 <= r.mean_winsorized <= r.p95, r


def test_audience_overlap_jaccard_bounds(spark):
    """Jaccard ∈ (0,1]; n_both never exceeds either set; the pair count
    is bounded by C(|types|,2)."""
    from conceptnetwork_spark.catalog import Catalog
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d27_audience_overlap"](spark, SF_ORACLE).collect()
    n_types = (
        Catalog(spark, SF_ORACLE).events.select("event_type").distinct().count()
    )
    assert 0 < len(rows) <= n_types * (n_types - 1) // 2
    for r in rows:
        assert 0 < r.n_both <= min(r.n_a, r.n_b), r
        assert 0.0 < r.jaccard <= 1.0, r


def test_soft_dedup_weights_cover_and_bound(spark):
    """Every document gets a weight row (blockless docs re-admitted at
    1.0); weights ∈ (0,1]; docs with zero shared blocks are always kept;
    and the block-sharing signal is non-trivial (some doc has
    n_dup_blocks > 0, planted by the corpus' repeated blocks)."""
    from conceptnetwork_spark.catalog import Catalog
    from conceptnetwork_spark.registry import queries
    from tests.conftest import SF_ORACLE

    rows = queries()["d34_soft_dedup_weights"](spark, SF_ORACLE).collect()
    assert len(rows) == Catalog(spark, SF_ORACLE).documents.count()
    assert any(r.n_dup_blocks > 0 for r in rows)
    for r in rows:
        assert 0 <= r.n_dup_blocks <= r.n_blocks, r
        assert 0.0 < r.weight <= 1.0, r
        if r.n_dup_blocks == 0:
            assert r.weight == 1.0 and r.kept, r


# ---------------------------------------------------------------------------
# TFRecord framing: a batch frames and splits back to the same records, each
# record's CRC does not depend on the batch it is computed in, and any cut
# inside a record is reported as truncation.
# ---------------------------------------------------------------------------
@given(
    recs=st.lists(st.binary(max_size=300), max_size=40),
    cut=st.integers(min_value=0),
)
@settings(max_examples=100, deadline=None)
def test_tfrecord_framing_round_trip(recs, cut):
    from conceptnetwork_spark.sources import tfrecord as tfr

    framed = tfr.frame_records(recs)
    assert tfr.split_records(framed) == recs
    assert [int(c) for c in tfr.crc32c_many(recs)] == [tfr.crc32c(r) for r in recs]
    bounds = set(itertools.accumulate((16 + len(r) for r in recs), initial=0))
    cut %= len(framed) + 1
    if cut in bounds:
        assert tfr.split_records(framed[:cut]) == recs[: sorted(bounds).index(cut)]
    else:
        with pytest.raises(ValueError, match="truncated"):
            tfr.split_records(framed[:cut])

"""Property-based tests (SURVEY §5.2 item 4): invariants that must hold
for arbitrary inputs, not just the fixture corpus.

- aggregate order/partition invariance (the DECIMAL accumulator contract
  of queries/_util.py)
- the hourly-boundary formula ≡ the reference's integer alarm math
  (master.ino:670-679) across arbitrary timestamps
- dedup idempotence + lowest-key survivor
- the sentinel→NULL rule is exactly value==0 (master.ino:162)

Example counts are small: each example runs Spark jobs.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hive_hw_spark.queries._util import dsum

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# floats with ≤6 decimal places in a telemetry-ish range, so the
# DECIMAL(30,10) accumulator represents every input exactly
values = st.lists(
    st.integers(min_value=-(10**8), max_value=10**8).map(lambda n: n / 1e6),
    min_size=1,
    max_size=50,
)


@given(vs=values, nparts=st.integers(min_value=1, max_value=8))
@settings(**SETTINGS)
def test_decimal_sum_partition_invariant(spark, vs, nparts):
    """dsum gives the exact same double no matter how rows are
    partitioned — the property float SUM lacks and oracle parity needs."""
    df = spark.createDataFrame([(v,) for v in vs], "v double").repartition(nparts)
    got = df.agg(dsum("v").alias("s")).first().s
    want = float(sum(Decimal(str(v)) for v in vs))
    assert got == pytest.approx(want, abs=1e-9)
    # and it is bit-stable across a different partitioning
    got2 = (
        spark.createDataFrame([(v,) for v in reversed(vs)], "v double")
        .repartition(max(1, nparts // 2))
        .agg(dsum("v").alias("s"))
        .first()
        .s
    )
    assert got == got2


@given(
    secs=st.lists(
        st.integers(min_value=0, max_value=4 * 10**9), min_size=1, max_size=100
    )
)
@settings(**SETTINGS)
def test_hour_boundary_equals_reference_formula(spark, secs):
    """window(ts,'1h').end == (s div 3600 + 1)*3600 for arbitrary epochs —
    the reference's next-alarm math (A17)."""
    df = spark.createDataFrame([(s,) for s in secs], "s long").withColumn(
        "ts", F.timestamp_seconds("s")
    )
    bad = df.select(
        F.window("ts", "1 hour").end.alias("spark_end"),
        F.timestamp_seconds((F.expr("s div 3600") + 1) * 3600).alias("ref_end"),
    ).filter(F.col("spark_end") != F.col("ref_end"))
    assert bad.count() == 0


@given(
    docs=st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**6), st.text(max_size=20)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_dedup_idempotent_and_min_survivor(spark, docs):
    """dedup(dedup(X)) == dedup(X); the survivor of each text group is
    its lowest doc_id."""
    from pyspark.sql import Window

    df = spark.createDataFrame(docs, "doc_id long, text string")

    def dedup(d):
        w = Window.partitionBy("text").orderBy("doc_id")
        return (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    once = dedup(df)
    twice = dedup(once)
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0
    # survivor check against a driver-side model
    want = {}
    for i, t in docs:
        if t not in want or i < want[t]:
            want[t] = i
    got = {r.text: r.doc_id for r in once.collect()}
    assert got == want


@given(
    vs=st.lists(
        st.one_of(st.just(0.0), st.floats(-1e6, 1e6, allow_nan=False)),
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_sentinel_null_rule_is_exactly_zero(spark, vs):
    """nullif(v,0) nulls exactly the sentinel 0.0 rows and nothing else
    (A24): count(kept) + count(zeros) == n, and no non-zero value is lost."""
    df = spark.createDataFrame([(v,) for v in vs], "v double")
    out = df.select(F.nullif(F.col("v"), F.lit(0.0)).alias("n"), "v")
    n_zero = sum(1 for v in vs if v == 0.0)
    assert out.filter(F.col("n").isNull()).count() == n_zero
    assert out.filter(F.col("n").isNotNull() & (F.col("n") != F.col("v"))).count() == 0


@given(
    kgs=st.lists(
        st.floats(min_value=0.0, max_value=200.0, allow_nan=False, width=32),
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_grams_conversion_matches_c_ceil(spark, kgs):
    """cast(ceil(w*1000) as long) reproduces the reference's C
    `ceil(w*1000)` (master.ino:474) for arbitrary float32 readings —
    including values whose *1000 lands exactly on an integer."""
    import math

    df = spark.createDataFrame([(v,) for v in kgs], "kg double")
    got = [
        r.g
        for r in df.select(
            F.ceil(F.col("kg") * 1000).cast("long").alias("g")
        ).collect()
    ]
    want = [int(math.ceil(v * 1000)) for v in kgs]
    assert got == want


# --- MERGE upsert vs a dict reference model --------------------------------

_merge_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=0,
    max_size=8,
    unique_by=lambda t: t[0],
)


@given(target=_merge_rows, source=_merge_rows)
@settings(**SETTINGS)
def test_merge_upsert_matches_dict_model(spark, target, source):
    """merge_upsert ≡ dict.update: for arbitrary keyed target/source
    sets, the merged table equals the target dict updated by the source
    dict (no delete condition)."""
    import uuid

    from hive_hw_spark.tables import merge_upsert

    name = f"prop_merge_{uuid.uuid4().hex[:12]}"
    spark.createDataFrame(
        [(k, float(v)) for k, v in target] or [(None, None)],
        "k long, v double",
    ).filter(F.col("k").isNotNull()).write.saveAsTable(name)
    src = spark.createDataFrame(
        [(k, float(v)) for k, v in source] or [(None, None)],
        "k long, v double",
    ).filter(F.col("k").isNotNull())

    try:
        got = {
            r.k: r.v for r in merge_upsert(spark, name, src, ["k"]).collect()
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    model = dict(target)
    model.update(dict(source))
    assert got == {k: float(v) for k, v in model.items()}


# --- count-min sketch never undercounts ------------------------------------

_words = st.lists(
    st.sampled_from(["ant", "bee", "cow", "doe", "elk", "fox", "gnu"]),
    min_size=1,
    max_size=60,
)


@given(ws=_words)
@settings(**SETTINGS)
def test_count_min_never_undercounts(spark, ws):
    """For arbitrary word multisets, every count-min estimate (min over
    4 hash rows of 1024 counters) is >= the exact count — the structural
    CMS guarantee q111 relies on."""
    from collections import Counter

    D, W = 4, 1024
    tok = spark.createDataFrame([(w,) for w in ws], "word string")
    hashes = F.expr(
        f"transform(sequence(0, {D - 1}),"
        f" j -> named_struct('j', j, 'b', pmod(xxhash64(word, j), {W})))"
    )
    sketch = (
        tok.select(F.explode(hashes).alias("hb"))
        .groupBy(F.col("hb.j").alias("j"), F.col("hb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    est = {
        r.word: r.n_est
        for r in (
            tok.distinct()
            .select("word", F.explode(hashes).alias("hb"))
            .join(
                sketch,
                (F.col("hb.j") == F.col("j")) & (F.col("hb.b") == F.col("b")),
            )
            .groupBy("word")
            .agg(F.min("c").alias("n_est"))
            .collect()
        )
    }
    exact = Counter(ws)
    assert set(est) == set(exact)
    for w, n in exact.items():
        assert est[w] >= n, (w, est[w], n)


@given(
    n=st.integers(min_value=1, max_value=12),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        max_size=12,
    ),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_neardup_components_matches_union_find(spark, n, edges):
    """neardup_components ≡ a pure-Python union-find on arbitrary small
    pair graphs (self-loops and out-of-range endpoints dropped, like a
    filtered LSH pair list)."""
    pairs = [(a, b) for a, b in edges if a < n and b < n and a != b]

    from hive_hw_spark.queries.llm_ops import neardup_components

    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pdf = spark.createDataFrame(
        pairs or [(0, 0)], "doc_a long, doc_b long"
    )
    if not pairs:  # empty relation via a filtered non-empty frame
        pdf = pdf.filter(F.col("doc_a") != F.col("doc_b"))
    got = {
        r.doc_id: r.cluster_id
        for r in neardup_components(docs, pdf).collect()
    }

    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: min(j for j in range(n) if find(j) == find(i)) for i in range(n)}
    assert got == want


@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=12),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=40, deadline=None)
def test_q163_length_band_blocking_is_a_complete_cover(names):
    """q163's soundness claim, property-tested WITHOUT Spark: for ANY
    pair within edit distance 2, the floor(len/3)±1 band probe finds
    it — because lev ≤ 2 bounds the length gap by 2, and a gap ≤ 2
    moves floor(len/3) by at most 1. Brute-force DP Levenshtein is the
    ground truth; the blocked candidate set must contain every true
    pair (it may contain more — the verify step filters those)."""

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[-1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    true_pairs = {
        (a, b)
        for i, a in enumerate(names)
        for b in names[i + 1 :]
        if lev(a, b) <= 2
    }
    true_pairs = {tuple(sorted(p)) for p in true_pairs}

    # the engine's blocking: left side explodes to buckets {b-1,b,b+1},
    # right side keyed on its own bucket, pair kept iff name_a < name_b
    def bucket(s: str) -> int:
        return len(s) // 3

    candidates = set()
    for a in names:
        for bk in (bucket(a) - 1, bucket(a), bucket(a) + 1):
            for b in names:
                if bucket(b) == bk and a < b and abs(len(a) - len(b)) <= 2:
                    candidates.add((a, b))
    missed = true_pairs - candidates
    assert not missed, f"blocking dropped true pairs: {missed}"


@given(
    n=st.integers(min_value=3, max_value=12),
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=0,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_q215_degree_ordered_triangles_match_brute_force(spark, n, edges):
    """q215's degree-ordered edge-iterator must count EXACTLY the
    triangles a brute-force enumeration finds, on arbitrary graphs —
    orientation changes the wedge generation, never the triangle set."""
    from itertools import combinations

    from pyspark.sql import functions as F

    es = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b and a < n and b < n})
    if not es:
        return
    adj = set(es)
    want = sum(
        1
        for x, y, z in combinations(sorted({v for e in es for v in e}), 3)
        if (x, y) in adj and (y, z) in adj and (x, z) in adj
    )
    edf = spark.createDataFrame(es, "a int, b int")
    deg = (
        edf.select(F.col("a").alias("v"))
        .unionAll(edf.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    oriented = (
        edf.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            )
            .otherwise(F.struct(F.col("b").alias("src"), F.col("a").alias("dst")))
            .alias("o")
        )
        .select("o.src", "o.dst")
    )
    w1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v1"))
    w2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v2"))
    wedges = w1.join(w2, "u").where(F.col("v1") < F.col("v2"))
    closer = oriented.select(
        F.least("src", "dst").alias("v1"), F.greatest("src", "dst").alias("v2")
    )
    got = wedges.join(closer, ["v1", "v2"], "left_semi").count()
    assert got == want


@given(
    spans=st.lists(
        st.tuples(st.integers(0, 40), st.integers(1, 15)),
        min_size=1,
        max_size=30,
    ),
)
@settings(**SETTINGS)
def test_q204_sweep_line_matches_naive_overlap_count(spark, spans):
    """q204's delta/prefix-sum concurrency must equal the naive 'count
    intervals covering each day' on arbitrary half-open [s, s+len)
    interval sets."""
    from collections import Counter

    from pyspark.sql import functions as F

    naive = Counter()
    for s, ln in spans:
        for d in range(s, s + ln):
            naive[d] += 1
    want_peak = max(naive.values())

    df = spark.createDataFrame(spans, "s int, len int")
    deltas = df.select(F.col("s").alias("day"), F.lit(1).alias("d")).unionAll(
        df.select((F.col("s") + F.col("len")).alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").alias("d"))
    from pyspark.sql import Window

    # bounded domain (days 0..55) → single partition key is structural
    w = (
        Window.partitionBy(F.pmod(F.col("day"), F.lit(1)))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got_peak = (
        daily.withColumn("conc", F.sum("d").over(w))
        .agg(F.max("conc").alias("m"))
        .first()
        .m
    )
    assert got_peak == want_peak


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=60
    ),
)
@settings(**SETTINGS)
def test_q218_integer_rank_matches_duckdb_quantile_disc(spark, vals):
    """q218's ceil(p·n) integer-rank formula must select exactly the
    element DuckDB's native quantile_disc selects, for arbitrary
    multisets and the three shipped percentiles."""
    import duckdb

    con = duckdb.connect()
    try:
        want = con.execute(
            "SELECT quantile_disc(x, 0.25), quantile_disc(x, 0.5), "
            "quantile_disc(x, 0.9) FROM (SELECT unnest(?) x)",
            [vals],
        ).fetchone()
    finally:
        con.close()
    s = sorted(vals)
    n = len(s)

    def pick(a, b):
        return s[(a * n + b - 1) // b - 1]

    assert (pick(1, 4), pick(1, 2), pick(9, 10)) == want

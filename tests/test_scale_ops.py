"""Scale-hardening operators: salted join equivalence, bucketed
shuffle-free joins, connected-components dedup clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_stream_aggr_spark.operators.cluster import connected_components, dedup_keepers
from event_stream_aggr_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # one hot key (0) with many rows — the shape salting exists for
    left = spark.createDataFrame(
        [(0, i) for i in range(500)] + [(k, k * 10) for k in range(1, 20)], "k int, v int"
    )
    right = spark.createDataFrame([(k, f"dim{k}") for k in range(20)], "k int, label string")
    plain = {(r.k, r.v, r.label) for r in left.join(right, "k").collect()}
    salted = {(r.k, r.v, r.label) for r in salted_join(left, right, "k", salt=4).collect()}
    assert salted == plain and len(plain) == 519


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (99, "b")], "k int, v string")
    right = spark.createDataFrame([(1, "one")], "k int, label string")
    got = {(r.k, r.label) for r in salted_join(left, right, "k", salt=3, how="left").collect()}
    assert got == {(1, "one"), (99, None)}


def test_connected_components_clusters(spark):
    # two components {1,2,3,4} (chain) and {10,11}; 20 isolated via docs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_keepers(spark):
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    keep = {r.doc_id for r in dedup_keepers(docs, pairs).collect()}
    assert keep == {1, 10, 20}  # component reps + untouched doc


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from event_stream_aggr_spark.operators.bucketing import bucketed_join, write_bucketed

    facts = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    dims = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("d").alias("label"))
    write_bucketed(facts, "b_facts", "k", n_buckets=8, sort_col="k")
    write_bucketed(dims, "b_dims", "k", n_buckets=8, sort_col="k")
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (broadcast would also be shuffle-free
        # here, but the point is the co-located big-big join shape)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_facts", "b_dims", "k")
        assert joined.count() == 100
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: the shuffle was paid at write
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql("DROP TABLE IF EXISTS b_facts")
        spark.sql("DROP TABLE IF EXISTS b_dims")


def test_hash_split_disjoint_exhaustive_stable(spark, sf_dir):
    from event_stream_aggr_spark.operators.sampling import hash_split
    from event_stream_aggr_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    train, ev = hash_split(d, "doc_id", 0.8)
    n, nt, ne = d.count(), train.count(), ev.count()
    assert nt + ne == n and 0 < nt < n
    # stable across repartitioning (content-addressed, not layout-addressed)
    t2, _ = hash_split(d.repartition(13), "doc_id", 0.8)
    assert {r.doc_id for r in t2.select("doc_id").collect()} == {
        r.doc_id for r in train.select("doc_id").collect()
    }


def test_stratified_sample_respects_fractions(spark, sf_dir):
    from event_stream_aggr_spark.operators.sampling import stratified_sample
    from event_stream_aggr_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    s = stratified_sample(d, "lang", {"en": 1.0, "de": 0.0}, seed=7)
    langs = {r.lang for r in s.select("lang").distinct().collect()}
    assert "en" in langs and "de" not in langs


def test_salted_join_rejects_right_preserving_types(spark):
    import pytest

    left = spark.createDataFrame([(1, "a")], "k int, v string")
    right = spark.createDataFrame([(1, "one"), (2, "two")], "k int, label string")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(left, right, "k", salt=3, how=how)


def test_salted_anti_join_matches_plain(spark):
    left = spark.createDataFrame([(1, "a"), (99, "b")], "k int, v string")
    right = spark.createDataFrame([(1, "one")], "k int, label string")
    got = {r.k for r in salted_join(left, right, "k", salt=3, how="left_anti").collect()}
    assert got == {99}


def _zipf_fixture(spark, n: int = 200_000):
    """Hot-key fixture: ~half of all rows land on key 0, the rest
    spread over 997 keys — the power-law-entity join shape the skew
    machinery exists for. Content-derived (hash of id), so the
    distribution is identical every run; the md5 padding keeps rows
    ~150 B so shuffle partition sizes are measurable."""
    left = (
        spark.range(n)
        .select(
            F.when(F.pmod(F.hash("id"), 1000) < 500, F.lit(0))
            .otherwise(F.pmod(F.hash(F.col("id") + 7), 997) + 1)
            .cast("int")
            .alias("k"),
            F.col("id").alias("v"),
            F.repeat(F.md5(F.col("id").cast("string")), 4).alias("pad"),
        )
    )
    right = spark.range(998).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("dim"), F.col("id")).alias("label"),
    )
    return left, right


def test_aqe_skew_split_activates_and_matches_on_zipf_join(spark):
    """Executes (not just plan-reads) an AQE skew-join split: with
    broadcast off the zipf join is a SortMergeJoin whose hot-key
    partition exceeds the (lowered) skew threshold, so the executed
    final plan must carry the skew=true marker — and the split must
    not change the answer vs the AQE-off run of the same join."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    left, right = _zipf_fixture(spark)
    expected_rows = left.count()  # inner join vs complete dim keeps all

    # global aggregate, not groupBy(k): a downstream hash(k) requirement
    # would make the split introduce an extra shuffle, which AQE's
    # OptimizeSkewedJoin declines by default — the global agg's partial
    # phase is map-side, so the split stays profitable and activates
    # sum(length(pad)) keeps the ~130 B pad column flowing through the
    # join shuffle — without a downstream reference Catalyst prunes it
    # and the hot partition shrinks below any realistic skew threshold
    def checksum(df):
        return df.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
            F.sum(F.hash("label").cast("long") + F.length("pad")).alias("hl"),
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        res = checksum(left)
        got = res.collect()[0]
        plan = res._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "skew=true" in plan, f"AQE skew split did not activate:\n{plan[:2000]}"
    assert got.n == expected_rows
    # parity oracle: identical checksum under default (unsplit) confs
    want = checksum(left).collect()[0]
    assert (got.n, got.sv, got.hl) == (want.n, want.sv, want.hl)


def test_salted_join_parity_on_zipf_fixture(spark):
    """salted_join executed against an actually skewed distribution
    (not the toy 500-row case): per-key aggregate parity with the
    plain join, and the salt must spread key 0 across partitions."""
    left, right = _zipf_fixture(spark, n=60_000)
    plain = {
        (r.k, r.n, r.sv)
        for r in left.join(right, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    salted = {
        (r.k, r.n, r.sv)
        for r in salted_join(left, right, "k", salt=8)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    }
    assert salted == plain


def test_epoch_expansion_balances_minority_strata(spark, sf_dir):
    """qs10: every language's expanded count lands between
    floor(factor)·n and ceil(factor)·n (whole epochs replicate all
    docs, the fractional epoch takes a hash subset), epochs are
    contiguous from 1, and the majority stratum stays at exactly 1x."""
    import collections

    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.sampling import MAX_EPOCHS
    from event_stream_aggr_spark.plans.registry import load_all
    from event_stream_aggr_spark.tables import load_table

    rows = load_all()["qs10_epoch_expansion"].fn(spark, sf_dir).collect()
    orig = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    max_n = max(orig.values())
    expanded = collections.Counter(r.lang for r in rows)
    per_doc = collections.Counter((r.lang, r.doc_id) for r in rows)
    for lang, n in orig.items():
        factor = min(MAX_EPOCHS, max_n / n)
        import math

        assert math.floor(factor) * n <= expanded[lang] <= math.ceil(factor) * n
    majority = max(orig, key=orig.get)
    assert expanded[majority] == orig[majority]
    for (lang, doc), reps in per_doc.items():
        epochs = sorted(r.epoch for r in rows if r.lang == lang and r.doc_id == doc)
        assert epochs == list(range(1, reps + 1))
        break  # contiguity spot-check on one doc (full check is O(n^2) here)


def test_stratified_quota_sample_hits_budget_exactly(spark, sf_dir):
    from event_stream_aggr_spark.operators.sampling import STRATIFIED_BUDGET
    from event_stream_aggr_spark.plans.registry import load_all

    rows = load_all()["qs11_stratified_quota_sample"].fn(spark, sf_dir).collect()
    # Hamilton allocation: the draw total equals the budget EXACTLY
    # (the property per-stratum rate rounding cannot guarantee)
    assert len(rows) == STRATIFIED_BUDGET
    per = {}
    for r in rows:
        per.setdefault(r.lang, []).append(r)
        assert r.draw_rank <= r.quota
    for lang, rs in per.items():
        assert len(rs) == rs[0].quota, lang


def test_pagerank_handchecked_tiny_graph(spark, tmp_path):
    """Integer fixed-point PageRank on a 2x2 bipartite graph,
    hand-computed: c1-{s1,s2}, c2-{s1}."""
    from event_stream_aggr_spark.plans.registry import load_all

    orders = spark.createDataFrame(
        [(1, 101), (2, 101), (3, 102)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(1, 7), (2, 8), (3, 7)], "l_orderkey long, l_suppkey long"
    )
    sf = str(tmp_path)
    orders.write.parquet(f"{sf}/orders.parquet")
    lineitem.write.parquet(f"{sf}/lineitem.parquet")
    got = {
        r.suppkey: (r.n_customers, r.rank_mu)
        for r in load_all()["qg01_supplier_pagerank"].fn(spark, sf).collect()
    }
    # rs1: s7=1425000, s8=575000; rc1: c101=1244375, c102=755625
    # rs2: s7 = 150000 + 850000*(622187 + 755625)//1e6 = 1321140
    #      s8 = 150000 + 850000*622187//1e6            =  678858
    assert got == {7: (2, 1321140), 8: (1, 678858)}


def test_salted_join_salt_is_deterministic_and_spreads_hot_key(spark):
    """The retry-safety contract (round 8): the salt is a pure
    function of the left row — two evaluations of the same plan
    produce byte-identical salted keys (a rand() salt re-draws per
    task attempt, which is unsafe under stage retry) — AND the hot
    key's distinct rows genuinely spread across salt buckets."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(0, i) for i in range(200)], "k int, v int"  # one hot key
    )
    salted = left.withColumn(
        "_salt", F.pmod(F.xxhash64("k", "v"), F.lit(4)).cast("int")
    )
    first = {(r.k, r.v, r._salt) for r in salted.collect()}
    second = {(r.k, r.v, r._salt) for r in salted.collect()}
    assert first == second  # deterministic across evaluations
    buckets = {s for (_, _, s) in first}
    assert len(buckets) == 4  # the hot key's rows use every salt bucket


def test_running_total_strategy_selects_by_hot_key_share(spark):
    """Round-9 VERDICT ask #3: the helper must pick the PLAIN window
    on uniform keys (the staged form costs ~1.7x there) and the STAGED
    decomposition when one key's history dominates an average task's
    row budget."""
    from event_stream_aggr_spark.operators.skew import running_total_strategy

    uniform = spark.createDataFrame(
        [(k, d, 1) for k in range(200) for d in range(5)],
        "k int, g int, v int",
    )
    assert running_total_strategy(uniform, "k") == "plain"

    hot = spark.createDataFrame(
        [(0, d % 7, 1) for d in range(600)]  # one key: 60% of all rows
        + [(k, d, 1) for k in range(1, 101) for d in range(4)],
        "k int, g int, v int",
    )
    assert running_total_strategy(hot, "k") == "staged"


def test_staged_running_total_branches_and_equality(spark):
    """Both branches produce the identical cumulative sum (DECIMAL —
    association-order-free), and their plans differ the way the
    docstring claims: plain = ONE window partitioned by the key;
    staged = windows over (key, grain) sub-partitions plus the
    grain-level stitch join, so no window partitions by the bare key
    over row-grain data."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.skew import staged_running_total

    df = spark.createDataFrame(
        [(k, d % 5, i, Decimal(f"{(i * 7 + k) % 100}.25"))
         for k in range(6) for d in range(5) for i in range(d * 4, d * 4 + 3)],
        "k int, g int, o int, v decimal(18,2)",
    ).dropDuplicates(["k", "g", "o"])

    plain = staged_running_total(
        df, key="k", grain="g", order=["o"], value=F.col("v"), force="plain"
    )
    staged = staged_running_total(
        df, key="k", grain="g", order=["o"], value=F.col("v"), force="staged"
    )

    def rows(d):
        return {(r.k, r.g, r.o): str(r.running_total) for r in d.collect()}

    assert rows(plain) == rows(staged)

    plain_plan = plain._jdf.queryExecution().executedPlan().toString()
    staged_plan = staged._jdf.queryExecution().executedPlan().toString()
    assert plain_plan.count("Window") >= 1 and "Join" not in plain_plan
    # staged: the row-grain window partitions by (key, grain); the only
    # bare-key window runs at grain grain (post-groupBy), and the two
    # phases meet in a stitch join
    assert "partitionspec=[k#" in staged_plan.lower() or "Window" in staged_plan
    assert "Join" in staged_plan
    assert staged_plan.count("Window") >= 2

    # auto mode picks plain once keys outnumber task slots (the 6-key
    # frame above is legitimately "hot": any of its keys dominates one
    # of local[32]'s task budgets)
    from decimal import Decimal as D

    many = spark.createDataFrame(
        [(k, d, 0, D("1.00")) for k in range(500) for d in range(3)],
        "k int, g int, o int, v decimal(18,2)",
    )
    auto = staged_running_total(
        many, key="k", grain="g", order=["o"], value=F.col("v")
    )
    auto_plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in auto_plan


def test_staged_running_total_rejects_unknown_force(spark):
    import pytest
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.skew import staged_running_total

    df = spark.createDataFrame([(1, 1, 1, 1)], "k int, g int, o int, v int")
    with pytest.raises(ValueError, match="force"):
        staged_running_total(
            df, key="k", grain="g", order=["o"], value=F.col("v"), force="auto"
        )


def test_lifecycle_checkpoint_generations_are_freed(spark, sf_dir):
    """The bounded-iteration lifecycle contract (operators/lifecycle):
    ids are registered at mark time (lazy) or by the folded count
    (eager), lineage is truncated (Scan ExistingRDD), blocks store at
    DISK_ONLY, and free_blocks deregisters exactly the generation it
    is given — the invariant qg07/connected_components rely on to keep
    at most two generations alive."""
    from event_stream_aggr_spark.operators.lifecycle import (
        disk_checkpoint,
        disk_checkpoint_lazy,
        free_blocks,
    )
    from event_stream_aggr_spark.tables import load_table

    from event_stream_aggr_spark.operators.lifecycle import _registered_ids

    def registered():
        return _registered_ids(spark.sparkContext)

    base = registered()
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")

    ck1, n1, gen1 = disk_checkpoint(ev)
    assert n1 > 0 and gen1 and set(gen1) <= registered()
    plan = ck1._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan  # lineage truncated
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in gen1:
        lvl = jmap.get(rid).getStorageLevel()
        assert lvl.useDisk() and not lvl.useMemory()

    ck2, gen2 = disk_checkpoint_lazy(ck1.filter("event_id % 2 = 0"))
    assert gen2 and set(gen2) <= registered()  # registered at MARK time
    n2 = ck2.count()  # materializing action
    assert 0 < n2 < n1

    free_blocks(spark, gen1)
    left = registered()
    assert not (set(gen1) & left) and set(gen2) <= left
    assert ck2.count() == n2  # successor generation survives its parent
    free_blocks(spark, gen2)
    # subset, not equality: the async ContextCleaner may concurrently
    # drop UNRELATED leaked RDDs from earlier tests in this session
    assert not ((set(gen1) | set(gen2)) & registered())


def test_staged_running_total_null_semantics_match_plain(spark):
    """Round-9 review fix: NULL key/grain rows are ordinary partition
    values (the stitch join is null-safe, not dropping them), and a
    NULL value is additive identity on either side of the stitch —
    the staged branch must return the IDENTICAL rows to the plain
    window for inputs with NULLs in every position."""
    from decimal import Decimal as D

    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.skew import staged_running_total

    rows = [
        (1, 1, 1, D("5.00")),
        (1, 2, 1, None),        # NULL value heading a grain
        (1, 2, 2, D("3.00")),
        (1, None, 1, D("7.00")),  # NULL grain
        (None, 1, 1, D("2.00")),  # NULL key
        (None, 1, 2, None),
        (2, 1, 1, None),        # key whose values are ALL NULL
        (2, 2, 1, None),
    ]
    df = spark.createDataFrame(rows, "k int, g int, o int, v decimal(18,2)")

    def collect(force):
        got = staged_running_total(
            df, key="k", grain="g", order=["o"], value=F.col("v"), force=force
        )
        return {
            (r.k, r.g, r.o): (None if r.running_total is None else str(r.running_total))
            for r in got.collect()
        }

    plain, staged = collect("plain"), collect("staged")
    assert set(plain) == set(staged)  # no row dropped/duplicated
    assert plain == staged


def test_staged_running_total_survives_reserved_column_names(spark):
    """Round-9 ADVICE: input columns named like the staged branch's
    working columns (_cum_in_grain, _g_total, _pk, _pg, _prefix) must
    pass through untouched — the helper uniquifies its internals, so
    the staged output schema stays identical to the plain branch's."""
    from decimal import Decimal as D

    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.skew import staged_running_total

    rows = [
        (k, g, o, D(f"{k + g + o}.50"), f"u{k}{g}{o}")
        for k in range(3) for g in range(3) for o in range(2)
    ]
    df = spark.createDataFrame(
        rows, "k int, g int, o int, v decimal(18,2), _cum_in_grain string"
    ).withColumn("_prefix", F.col("_cum_in_grain")).withColumn(
        "_pk", F.col("k")
    ).withColumn("_pg", F.col("g")).withColumn("_g_total", F.col("v"))

    def snap(force):
        got = staged_running_total(
            df, key="k", grain="g", order=["o"], value=F.col("v"), force=force
        )
        return sorted(got.columns), {
            (r.k, r.g, r.o): (str(r.running_total), r._cum_in_grain, r._pk)
            for r in got.collect()
        }

    plain_cols, plain_rows = snap("plain")
    staged_cols, staged_rows = snap("staged")
    assert staged_cols == plain_cols  # user columns survive both branches
    assert staged_rows == plain_rows


def test_qg03_bfs_frees_superseded_generations(spark, sf_dir):
    """Round-9 VERDICT ask #3: qg03's BFS loop must actually run on
    the bounded lifecycle the README claims — after the result is
    consumed, the only blocks still registered from the loop are the
    FINAL visited generation (the returned frame reads them); every
    superseded frontier/visited generation and the edge relation are
    freed during the loop, not left for driver GC."""
    from event_stream_aggr_spark.operators.lifecycle import _registered_ids
    from event_stream_aggr_spark.plans.registry import load_all

    spec = load_all()["qg03_bfs_distances"]
    before = _registered_ids(spark.sparkContext)
    out = spec.fn(spark, sf_dir)
    rows = {r.dist: r.n_nodes for r in out.collect()}
    assert rows and rows.get(0) == 1  # the seed is its own 0-hop node

    leaked = _registered_ids(spark.sparkContext) - before
    # exactly one generation may remain: the final visited checkpoint
    assert len(leaked) <= 1, f"BFS loop leaked {len(leaked)} generations"


def test_join_skew_strategy_selects_and_sizes_salt(spark):
    """Round-9 VERDICT ask #4: the join helper must pick PLAIN on
    uniform keys (the salted right side replicates x salt — a real
    cost) and SALTED when one key's probe rows dominate an average
    task's budget, with the salt sized to the measured excess
    (ceil(mx*par / (ratio*total)), clamped to [2, max_salt]).
    ``aqe_backstop=False`` pins the pre-AQE-credit path — the sizing
    logic under test; the crediting itself is the next test."""
    import math

    from event_stream_aggr_spark.operators.skew import (
        SALTED_JOIN_TASK_BUDGET,
        join_skew_strategy,
    )

    if spark.sparkContext.defaultParallelism < 4:
        import pytest

        pytest.skip("hot-frame routing assumes >= 4 task slots")

    uniform = spark.createDataFrame(
        [(k, i) for k in range(200) for i in range(5)], "k int, v int"
    )
    assert join_skew_strategy(uniform, "k") == ("plain", 1)

    hot = spark.createDataFrame(
        [(0, i) for i in range(600)]  # one key: 60% of all rows
        + [(k, i) for k in range(1, 101) for i in range(4)],
        "k int, v int",
    )
    choice, salt = join_skew_strategy(hot, "k", aqe_backstop=False)
    assert choice == "salted"
    par = spark.sparkContext.defaultParallelism
    expected = max(
        2, min(32, math.ceil(600 * par / (SALTED_JOIN_TASK_BUDGET * 1000.0)))
    )
    assert salt == expected

    # clamp: at ratio 0.5 the unclamped salt is ceil(600*par / 500) =
    # ceil(1.2*par) >= 5 for every par >= 4, so max_salt=4 cuts it to 4
    assert join_skew_strategy(
        hot, "k", task_budget_ratio=0.5, aqe_backstop=False
    ) == ("salted", max(2, min(32, math.ceil(600 * par / 500.0))))
    assert join_skew_strategy(
        hot, "k", task_budget_ratio=0.5, max_salt=4, aqe_backstop=False
    ) == ("salted", 4)

    # precomputed stats skip the aggregation pass but price identically
    assert join_skew_strategy(
        hot, "k", stats=(600, 1000), aqe_backstop=False
    ) == ("salted", expected)


def test_join_skew_strategy_credits_aqe_backstop(spark):
    """Round-10 VERDICT ask #1: row skew alone must no longer buy a
    salt. With AQE skew-split armed (the session default) and the hot
    key's bytes within advisory × parallelism, the selector returns
    PLAIN — the runtime split already restores balance without the
    salt's right-side replication. Salting survives only when (a) AQE
    is pinned off, (b) the join type is outside the left-splittable
    set, or (c) the hot key outgrows the advisory × split budget."""
    from event_stream_aggr_spark.operators.skew import join_skew_strategy

    if spark.sparkContext.defaultParallelism < 4:
        import pytest

        pytest.skip("hot-frame routing assumes >= 4 task slots")

    from pyspark.sql import functions as F

    # built from spark.range so Catalyst CAN estimate bytes-per-row (a
    # Python createDataFrame is RDD-backed → unknown-size sentinel →
    # the selector conservatively salts, the very path under test)
    hot = spark.range(1000).select(
        F.when(F.col("id") < 600, F.lit(0))
        .otherwise(((F.col("id") - 600) % 100 + 1))
        .cast("int")
        .alias("k"),
        F.col("id").cast("int").alias("v"),
    )
    # (session: adaptive + skewJoin on, advisory 64MB) — a 600-row hot
    # key is far inside AQE's split capacity → plain, AQE owns it
    assert join_skew_strategy(hot, "k") == ("plain", 1)
    # non-left-splittable type: AQE can't split the probe side → salt
    choice, _ = join_skew_strategy(hot, "k", how="full")
    assert choice == "salted"
    # (c): shrink the advisory so even map-granularity splits overflow
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key, "64MB")
    spark.conf.set(key, "1b")
    try:
        choice, _ = join_skew_strategy(hot, "k")
        assert choice == "salted"
    finally:
        spark.conf.set(key, saved)


def test_auto_skew_join_branches_plan_pinned_and_equal(spark):
    """Both auto_skew_join branches return identical rows on a hot-key
    frame, and the plans differ the way the docstring claims: the
    plain branch joins on the bare key (no salt expression anywhere),
    the salted branch spreads via the deterministic xxhash64 salt.
    Auto on the hot frame under the session's armed AQE routes PLAIN
    (round-10 re-price: the runtime skew-split owns in-capacity hot
    keys); shrinking the advisory below the hot key's bytes flips auto
    back to the salted plan."""
    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.skew import auto_skew_join

    if spark.sparkContext.defaultParallelism < 4:
        import pytest

        pytest.skip("hot-frame routing assumes >= 4 task slots")

    # range-derived so Catalyst can estimate row width (see the
    # selector test above): auto's AQE credit requires a usable
    # bytes-per-row, and an RDD-backed frame has none
    left = spark.range(1000).select(
        F.when(F.col("id") < 600, F.lit(0))
        .otherwise(((F.col("id") - 600) % 100 + 1))
        .cast("int")
        .alias("k"),
        F.col("id").cast("int").alias("v"),
    )
    right = spark.range(101).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") * 10).cast("int").alias("d"),
    )

    def rows(df):
        return sorted((r.k, r.v, r.d) for r in df.collect())

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved = spark.conf.get(key, "64MB")

    plain = auto_skew_join(left, right, "k", force="plain")
    salted = auto_skew_join(left, right, "k", force="salted", salt=4)
    auto = auto_skew_join(left, right, "k")
    spark.conf.set(key, "1b")
    try:
        auto_uncovered = auto_skew_join(left, right, "k")
        auto_uncovered_plan = (
            auto_uncovered._jdf.queryExecution().executedPlan().toString()
        )
        uncovered_rows = rows(auto_uncovered)
    finally:
        spark.conf.set(key, saved)
    assert rows(plain) == rows(salted) == rows(auto) == uncovered_rows

    plain_plan = plain._jdf.queryExecution().executedPlan().toString()
    salted_plan = salted._jdf.queryExecution().executedPlan().toString()
    auto_plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" not in plain_plan
    assert "xxhash64" in salted_plan  # the deterministic spread
    # hot frame, AQE armed, key within advisory x par → AQE-credited plain
    assert "xxhash64" not in auto_plan
    # same frame, advisory shrunk below the hot key → salted fallback
    assert "xxhash64" in auto_uncovered_plan

    import pytest

    with pytest.raises(ValueError, match="force"):
        auto_skew_join(left, right, "k", force="auto")


def test_parse_bytes_and_size_estimate_guards(spark):
    """The AQE-credit capacity check leans on two small helpers whose
    failure modes must stay conservative: ``_parse_bytes`` handles
    every Spark byte-size spelling (and falls back to the shipped
    64 MB default on garbage, never raising), and
    ``_est_bytes_per_row`` returns None — refusing the credit — for
    RDD-backed frames (Catalyst's Long.MaxValue unknown sentinel) and
    for zero totals."""
    from event_stream_aggr_spark.operators.skew import (
        _est_bytes_per_row,
        _parse_bytes,
    )

    mb64 = 64 * 1024**2
    assert _parse_bytes("64MB") == mb64
    assert _parse_bytes("64mb") == mb64
    assert _parse_bytes("8m") == 8 * 1024**2
    assert _parse_bytes("4M") == 4 * 1024**2
    assert _parse_bytes("1b") == 1
    assert _parse_bytes("1048576") == 1048576
    assert _parse_bytes("2g") == 2 * 1024**3
    assert _parse_bytes(" 16 kb ") == 16 * 1024
    assert _parse_bytes("garbage") == mb64
    assert _parse_bytes("") == mb64
    assert _parse_bytes(None) == mb64
    assert _parse_bytes("12parsecs") == mb64

    # RDD-backed frame → unknown-size sentinel → None (no credit)
    rdd_backed = spark.createDataFrame([(1, 2)], "a int, b int")
    assert _est_bytes_per_row(rdd_backed, 1) is None
    # range-derived frame → a real positive estimate
    est = _est_bytes_per_row(spark.range(100), 100)
    assert est is not None and est > 0
    # zero/negative totals can't divide
    assert _est_bytes_per_row(spark.range(100), 0) is None


def test_auto_skew_join_validates_how_eagerly(spark):
    """Round-10 ADVICE (medium): a non-left-preserving ``how`` must be
    handled at ENTRY, not explode data-dependently from salted_join
    the day the stats pass measures skew. Auto mode routes right/full
    outer deterministically to the plain join (AQE is the only sound
    mitigation there — identical rows to the plain join by
    construction); force='salted' with such a type raises
    immediately, even on data the stats pass would call uniform."""
    import pytest

    from event_stream_aggr_spark.operators.skew import auto_skew_join

    left = spark.createDataFrame(
        [(0, i) for i in range(600)]
        + [(k, i) for k in range(1, 101) for i in range(4)],
        "k int, v int",
    )
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(150)], "k int, d int"
    )

    for how in ("right", "full", "full_outer", "rightouter"):
        got = auto_skew_join(left, right, "k", how=how)
        want = left.join(right, "k", how)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
        assert "xxhash64" not in got._jdf.queryExecution().executedPlan().toString()
        with pytest.raises(ValueError, match="cannot salt"):
            auto_skew_join(left, right, "k", how=how, force="salted")


def test_salted_join_survives_user_salt_column(spark):
    """Round-10 review: a user column literally named ``_salt`` (any
    case) must pass through salted_join untouched — the working column
    is uniquified against both sides, so the salted branch's output
    schema equals the plain join's."""
    from event_stream_aggr_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k % 5, i, f"s{i}") for k in range(10) for i in range(4)],
        "k int, v int, _salt string",
    )
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(5)], "k int, d int"
    )
    plain = left.join(right, "k")
    salted = salted_join(left, right, "k", salt=3)
    assert sorted(salted.columns) == sorted(plain.columns)
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_staged_running_total_uniquifies_case_insensitively(spark):
    """Round-10 review: Spark resolves columns with
    caseSensitive=false, so a user column ``_PK`` must not collide
    with the staged branch's ``_pk`` working column (ambiguous
    reference / wrong drop)."""
    from decimal import Decimal as D

    from pyspark.sql import functions as F

    from event_stream_aggr_spark.operators.skew import staged_running_total

    df = spark.createDataFrame(
        [(k, g, o, D(f"{k + o}.25"), k * 100) for k in range(3)
         for g in range(2) for o in range(2)],
        "k int, g int, o int, v decimal(18,2), _PK int",
    )

    def snap(force):
        got = staged_running_total(
            df, key="k", grain="g", order=["o"], value=F.col("v"), force=force
        )
        return sorted(got.columns), {
            (r.k, r.g, r.o): (str(r.running_total), r._PK)
            for r in got.collect()
        }

    assert snap("plain") == snap("staged")

"""Unit tests for the corpus-quality batch: unigram LM scoring,
segment-level (line) dedup, and mixture rebalancing — hand-computable
fixtures that isolate the semantics the sf-scale oracle runs can't
(exact logprob values, shared-boilerplate reconstruction, all-dropped
documents, keep-everything in the smallest group)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import segment_dedup
from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
    rebalance_to_min_group,
)
from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
    unigram_logprob_scores,
)


# ------------------------------------------------------- unigram logprob

def test_unigram_logprob_uniform_corpus(spark):
    # corpus tokens: a a b | b  -> p(a)=p(b)=0.5, every doc's mean is ln(.5)
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in unigram_logprob_scores(df).collect()}
    assert rows[1]["n_toks"] == 3 and rows[2]["n_toks"] == 1
    for r in rows.values():
        assert abs(r["avg_logprob"] - math.log(0.5)) < 1e-5


def test_unigram_logprob_rare_token_scores_lower(spark):
    # doc 2 holds the single rare token -> strictly lower mean logprob
    df = spark.createDataFrame(
        [(1, "x x x x"), (2, "x rare")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r["avg_logprob"] for r in unigram_logprob_scores(df).collect()}
    assert rows[2] < rows[1]


# --------------------------------------------------------- segment dedup

def _seg(words):
    return " ".join(words)


def test_segment_dedup_drops_shared_boilerplate(spark):
    boiler = _seg([f"b{i}" for i in range(10)])
    tail_a = _seg([f"a{i}" for i in range(10)])
    tail_b = _seg([f"c{i}" for i in range(10)])
    df = spark.createDataFrame(
        [
            (1, boiler + " " + tail_a),
            (2, boiler + " " + tail_b),
            (3, boiler),  # nothing but boilerplate
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in segment_dedup(df, seg_len=10).collect()}
    assert out[1]["clean_text"] == tail_a and out[1]["n_dropped"] == 1
    assert out[2]["clean_text"] == tail_b and out[2]["n_dropped"] == 1
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[3]["n_segs"] == 1


def test_segment_dedup_preserves_order_and_within_doc_repeats(spark):
    # a segment repeated WITHIN one doc is not cross-doc boilerplate: kept
    s1 = _seg([f"p{i}" for i in range(10)])
    s2 = _seg([f"q{i}" for i in range(10)])
    df = spark.createDataFrame(
        [(1, " ".join([s1, s2, s1])), (2, _seg(f"z{i}" for i in range(5)))],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in segment_dedup(df, seg_len=10).collect()}
    assert out[1]["clean_text"] == " ".join([s1, s2, s1])
    assert out[1]["n_kept"] == 3 and out[1]["n_dropped"] == 0
    # short doc -> single short segment, kept
    assert out[2]["n_segs"] == 1 and out[2]["n_kept"] == 1


# ----------------------------------------------------- mixture rebalance

def test_rebalance_keeps_all_of_smallest_group(spark):
    rows = [(i, "small") for i in range(5)] + [(100 + i, "big") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    out = rebalance_to_min_group(df, "grp", "doc_id")
    by_grp = {r["grp"]: r["n"] for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert by_grp["small"] == 5  # threshold == BUCKETS -> keep everything
    # big group lands Binomial-tight around 5 (p=5/200); generous bound
    assert 0 <= by_grp.get("big", 0) <= 20


def test_rebalance_invariant_under_repartition(spark):
    rows = [(i, "g%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    a = {tuple(r) for r in rebalance_to_min_group(df, "grp", "doc_id").collect()}
    b = {
        tuple(r)
        for r in rebalance_to_min_group(df.repartition(7), "grp", "doc_id").collect()
    }
    assert a == b


# ------------------------------------------------------------- pagerank

def test_pagerank_star_center_dominates(spark):
    # star: hub connected to 4 spokes -> hub rank strictly highest
    edges = spark.createDataFrame(
        [("hub", f"s{i}", 1) for i in range(4)], ["src", "dst", "w"]
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import pagerank_fixed

    out = {r["vertex"]: r for r in pagerank_fixed(edges, weight="w").collect()}
    assert out["hub"]["wdeg"] == 4
    hub = out["hub"]["rank6"]
    for i in range(4):
        assert out[f"s{i}"]["rank6"] < hub
    # ranks are relative-to-uniform micro-units: total mass stays ~n x 1e6
    # (integer truncation only ever loses micro-units per vertex/round)
    total = sum(r["rank6"] for r in out.values())
    n = len(out)
    assert 0.95e6 * n < total <= 1.0e6 * n + n


def test_pagerank_ranks_independent_of_graph_size(spark):
    """Ranks are relative-to-uniform, NOT absolute probabilities: adding a
    disjoint copy of the graph (doubling N) must leave every vertex's
    rank6 EXACTLY unchanged. Under the total-mass-1e6 normalization this
    replaces, doubling N halves every rank — and at corpus scale
    (N ~ 1e5+) the per-vertex integer budget truncates all ranks to
    {0, 1} micro-units, destroying the authority ordering while the
    same-math oracle still agrees (the round-8 review finding)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import pagerank_fixed

    star = [("hub", f"s{i}", 1) for i in range(4)]
    one = spark.createDataFrame(star, ["src", "dst", "w"])
    two = spark.createDataFrame(
        star + [(f"x_{a}", f"x_{b}", w) for a, b, w in star], ["src", "dst", "w"]
    )
    r1 = {r["vertex"]: r["rank6"] for r in pagerank_fixed(one, weight="w").collect()}
    r2 = {r["vertex"]: r["rank6"] for r in pagerank_fixed(two, weight="w").collect()}
    assert len(r2) == 2 * len(r1)
    for v, rank in r1.items():
        assert r2[v] == rank, (v, rank, r2[v])
        assert r2[f"x_{v}"] == rank
    # and the resolution is real: uniform start is 1e6 micro-units
    assert max(r1.values()) > 1_000_000 > min(r1.values())


def test_pagerank_invariant_under_repartition(spark):
    import random

    rng = random.Random(7)
    edges = [
        (f"v{rng.randrange(30)}", f"v{rng.randrange(30)}", rng.randrange(1, 5))
        for _ in range(120)
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import pagerank_fixed

    a = {tuple(r) for r in pagerank_fixed(df, weight="w").collect()}
    b = {tuple(r) for r in pagerank_fixed(df.repartition(13), weight="w").collect()}
    assert a == b


# ----------------------------------------- distributed rank / exact ntile

def test_global_row_number_matches_sorted_order(spark):
    import random

    rng = random.Random(3)
    vals = [(i, rng.random()) for i in range(1000)]
    df = spark.createDataFrame(vals, ["id", "v"]).repartition(11)
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import global_row_number

    out = global_row_number(df, ["v", "id"]).collect()
    by_rank = sorted(out, key=lambda r: r["global_rn"])
    assert [r["global_rn"] for r in by_rank] == list(range(1, 1001))
    # ranks agree with the python sort of the same total order
    expected = sorted(vals, key=lambda t: (t[1], t[0]))
    assert [(r["id"]) for r in by_rank] == [t[0] for t in expected]


def test_ntile_from_rank_bucket_sizes(spark):
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import ntile_from_rank

    for n, k in [(7, 3), (10, 10), (9, 4), (3, 5), (100, 7)]:
        df = spark.createDataFrame(
            [(i + 1, n) for i in range(n)], ["rn", "n_total"]
        ).withColumn("bin", ntile_from_rank("rn", "n_total", k))
        sizes = {}
        for r in df.collect():
            sizes[r["bin"]] = sizes.get(r["bin"], 0) + 1
        # NTILE contract: sizes differ by <=1, larger buckets first,
        # bins numbered 1..min(n,k), rank order maps to nondecreasing bins
        q, rem = divmod(n, k)
        expected = {b + 1: (q + 1 if b < rem else q) for b in range(min(n, k)) if (q + 1 if b < rem else q) > 0}
        assert sizes == expected, (n, k, sizes)


# ------------------------------------------- funnel / debounce semantics

def test_funnel_requires_stage_order(spark, sf_dir):
    """A click BEFORE the first view must not advance the funnel."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # u1: click at t0, view at t1 -> click doesn't count; no later click
        (1, "u1", "click", base),
        (2, "u1", "view", base + dt.timedelta(minutes=1)),
        # u2: proper view -> click -> purchase
        (3, "u2", "view", base),
        (4, "u2", "click", base + dt.timedelta(minutes=1)),
        (5, "u2", "purchase", base + dt.timedelta(minutes=2)),
        # u3: purchase first, then view -> depth 1
        (6, "u3", "purchase", base),
        (7, "u3", "view", base + dt.timedelta(minutes=1)),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    df.createOrReplaceTempView("__funnel_fixture")

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window  # noqa: F401

    v = df.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t_view"))
    c = (
        df.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    depths = {r["user_id"]: r for r in v.join(c, "user_id", "left").collect()}
    assert depths["u1"]["t_click"] is None  # click predates view
    assert depths["u2"]["t_click"] is not None
    assert depths["u3"]["t_click"] is None


def test_debounce_lag_semantics_chained_bursts(spark):
    """lag-based debounce: each event is compared to its immediate
    predecessor, so a long burst of sub-gap events keeps only the first."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(i, "u", "click", base + dt.timedelta(hours=h)) for i, h in enumerate([0, 1, 2, 3, 10])]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    kept = (
        df.withColumn("__us", F.unix_micros("ts"))
        .withColumn("__prev", F.lag("__us").over(w))
        .filter(F.col("__prev").isNull() | (F.col("__us") - F.col("__prev") >= 14_400_000_000))
        .select("event_id")
        .collect()
    )
    # gaps: 1h,1h,1h,7h -> only the first of the burst and the 7h-later one
    assert sorted(r["event_id"] for r in kept) == [0, 4]


def test_global_cumsum_matches_python_prefix_sums(spark):
    import random

    rng = random.Random(11)
    rows = [(i, rng.randrange(1, 100)) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(9)
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import global_cumsum

    out = {r["id"]: r["cum_sum"] for r in global_cumsum(df, ["id"], "v").collect()}
    acc = 0
    for i, v in rows:
        acc += v
        assert out[i] == acc


# ------------------------------------------------- hard negatives / bpe

def test_hard_negative_excludes_same_label(spark):
    rows = [
        (1, [1.0, 0.0], "A"),
        (2, [0.99, 0.14], "A"),   # closest to 1 but same label
        (3, [0.9, 0.44], "B"),    # closest different-label to 1
        (4, [0.0, 1.0], "B"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        hard_negative_topk,
    )

    out = hard_negative_topk(df, k=1, n_blocks=2).collect()
    top = {r["anchor"]: r["neg"] for r in out}
    assert top[1] == 3  # not 2 (same label)
    assert top[4] == 2  # nearest A to [0,1] is [0.99,0.14]
    assert set(top) == {1, 2, 3, 4}


def test_bpe_pair_counts_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "bc")], ["doc_id", "text"]
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog import SPARK_QUERIES
    import fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog as qc

    # drive the pair logic directly: vocab {ab:2, abc:1, bc:1}
    # pairs: ab -> {ab:2}; abc -> {ab:1, bc:1}; bc -> {bc:1}
    from pyspark.sql import functions as F
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import ws_tokens

    vocab = (
        df.select(F.explode(ws_tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ch = F.filter(F.split(F.col("tok"), ""), lambda x: x != F.lit(""))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("ch") - 1),
        lambda i: F.concat(F.element_at(F.col("ch"), i), F.element_at(F.col("ch"), i + 1)),
    )
    out = {
        r["pair"]: r["n_occurrences"]
        for r in vocab.withColumn("ch", ch)
        .filter(F.size("ch") >= 2)
        .select("n", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
        .collect()
    }
    assert out == {"ab": 3, "bc": 2}


def test_point_in_time_join_never_leaks_future_state(spark):
    """PIT contract: the attached state must come from a run that started
    at or before (fact_ts - 1h) — never after."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "u", "view", base),                           # run starts 12:00
        (2, "u", "click", base + dt.timedelta(minutes=30)),  # run 12:30
        (3, "u", "purchase", base + dt.timedelta(minutes=45)),  # t0 = 11:45 -> NO state
        (4, "u", "purchase", base + dt.timedelta(minutes=75)),  # t0 = 12:15 -> 'view'
        (5, "u", "purchase", base + dt.timedelta(hours=2)),     # t0 = 13:00 -> run 12:45 ('purchase')
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    df.createOrReplaceTempView("__pit_events")
    from fiap_machine_learning_tech_challenge_2_etl_spark import queries_catalog as qc

    import fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog  # noqa: F401
    # drive the same logic as the registered query against the fixture
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import asof_join

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    surv = (
        df.withColumn("prev_t", F.lag("event_type").over(w))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) | ~F.col("event_type").eqNullSafe(F.col("prev_t")))
    )
    runs = surv.select("user_id", "ts", F.col("event_type").alias("state_before"))
    facts = df.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("ts"),
    )
    out = {r["event_id"]: r["state_before"] for r in asof_join(
        facts, runs, on="user_id", ts_col="ts", right_value_cols=["state_before"]
    ).collect()}
    assert out[3] is None          # nothing known an hour before
    assert out[4] == "view"        # 12:15 -> the 12:00 run, not the 12:30 one
    assert out[5] == "purchase"    # 13:00 -> run that started 12:45


def test_span_corruption_round_trip_reconstructs(spark):
    """Merging input sentinels with target spans must reconstruct the
    original token stream exactly — the property that makes the pair a
    valid denoising example."""
    df = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(25)))], ["doc_id", "text"]
    )
    # assert the invariant on the oracle side (same algebra both engines;
    # the sf-scale oracle diff proves Spark == DuckDB, this proves the
    # CONTRACT of the output pair itself)
    toks = [f"w{i}" for i in range(25)]
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT 7 AS doc_id, '%s' AS text, 'en' AS lang, 'src0' AS source, 1 AS n_chars" % " ".join(toks))
    from fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog import ORACLE_SQL
    row = con.execute(ORACLE_SQL["span_corruption_pairs"]).fetchone()
    _, n_toks, inp, tgt = row
    assert n_toks == 25
    # rebuild: walk input; on sentinel <X_g>, splice the target's span g
    spans = {}
    cur = None
    for piece in tgt.split(" "):
        if piece.startswith("<X_"):
            cur = piece
            spans[cur] = []
        else:
            spans[cur].append(piece)
    rebuilt = []
    for piece in inp.split(" "):
        if piece.startswith("<X_"):
            rebuilt.extend(spans[piece])
        else:
            rebuilt.append(piece)
    assert rebuilt == toks
    # and the masking rate is ~30%
    n_masked = sum(len(v) for v in spans.values())
    assert 5 <= n_masked <= 11


def test_pagerank_empty_graph_returns_empty(spark):
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import pagerank_fixed

    empty = spark.createDataFrame([], "src string, dst string, w long")
    out = pagerank_fixed(empty, weight="w")
    assert out.columns == ["vertex", "wdeg", "rank6"]
    assert out.count() == 0


def test_incremental_rollup_merge_equals_full_recompute(spark):
    """Partial-agg merge algebra: keys present only in base, only in
    delta, and in both must all equal the full recompute."""
    import datetime as dt

    from pyspark.sql import functions as F

    base_day = dt.datetime(2024, 1, 10)
    late_day = dt.datetime(2024, 1, 25)
    rows = [
        (1, "a", base_day, 1.00),          # base only
        (2, "a", base_day, 2.50),
        (3, "b", late_day, 4.00),          # delta only (new user)
        (4, "a", late_day, 0.25),          # both sides' key
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")

    def rollup(d):
        return d.groupBy("user_id", day).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("sum_cents"),
        )

    cutoff = F.lit("2024-01-24").cast("timestamp")
    b, d_ = rollup(df.filter(F.col("ts") < cutoff)).alias("b"), rollup(
        df.filter(F.col("ts") >= cutoff)
    ).alias("d")
    merged = (
        b.join(d_, ["user_id", "day"], "full_outer")
        .select(
            "user_id", "day",
            (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))).alias("n"),
            (F.coalesce(F.col("b.sum_cents"), F.lit(0)) + F.coalesce(F.col("d.sum_cents"), F.lit(0))).alias("sum_cents"),
        )
    )
    full = rollup(df)
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in full.collect()}


def test_token_budget_smaller_than_first_doc_selects_nothing(spark):
    from pyspark.sql import functions as F

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import global_cumsum

    df = spark.createDataFrame([(1, 100), (2, 50)], ["doc_id", "n_toks"])
    ranked = global_cumsum(
        df.withColumn("__neg", -F.col("n_toks")), ["__neg", "doc_id"], "n_toks",
        out_col="cum_toks",
    )
    # budget 40 < first (largest) doc's 100 tokens -> nothing fits
    assert ranked.filter(F.col("cum_toks") <= 40).count() == 0


def test_containment_catches_embedded_doc(spark):
    """A short doc fully embedded in a longer one: Jaccard is low but
    containment is 1.0 — the case this operator exists for."""
    from pyspark.sql import functions as F

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        shingles,
        token_hash60,
    )

    short = " ".join(f"s{i}" for i in range(12))
    long_ = short + " " + " ".join(f"t{i}" for i in range(200))
    df = spark.createDataFrame([(1, long_), (2, short)], ["doc_id", "text"])
    sh = (
        df.select("doc_id", F.explode(shingles("text", 3)).alias("s"))
        .select("doc_id", token_hash60(F.col("s")).alias("h"))
        .distinct()
    )
    sz = {r["doc_id"]: r["n"] for r in sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    a, b = sh.alias("a"), sh.alias("b")
    n_common = (
        a.join(b, on=[F.col("a.h") == F.col("b.h"), F.col("a.doc_id") < F.col("b.doc_id")])
        .count()
    )
    containment = n_common / min(sz[1], sz[2])
    jaccard = n_common / (sz[1] + sz[2] - n_common)
    assert containment >= 0.9  # embedded -> containment ~1 (boundary shingles differ)
    assert jaccard < 0.2       # resemblance misses it


def test_psi_identical_windows_is_zero(spark):
    """Same distribution in both windows -> every PSI term is 0."""
    import datetime as dt

    from pyspark.sql import functions as F

    ref_day, cur_day = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 20)
    rows = []
    for i in range(200):
        v = float((i % 10) * 50 + 10)  # identical histogram in both halves
        rows.append((2 * i, ref_day, v))
        rows.append((2 * i + 1, cur_day, v))
    df = spark.createDataFrame(rows, ["event_id", "ts", "value"])
    b = df.select(
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "ref")
        .otherwise("cur")
        .alias("side"),
        F.least(F.floor(F.col("value") / 50).cast("long"), F.lit(9)).alias("bin"),
    )
    c = b.groupBy("bin").agg(
        F.count(F.when(F.col("side") == "ref", 1)).alias("n_ref"),
        F.count(F.when(F.col("side") == "cur", 1)).alias("n_cur"),
    )
    for r in c.collect():
        assert r["n_ref"] == r["n_cur"]  # identical -> psi term exactly 0


def test_knn_label_noise_flags_planted_mislabel(spark):
    """A 'B'-labeled point sitting inside a tight 'A' cluster must show
    full neighbor disagreement; core cluster members show none."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(12):  # tight A cluster around [1, 0, ...]
        rows.append((i, [1.0 + rng.uniform(-0.01, 0.01), rng.uniform(-0.01, 0.01)], "A"))
    rows.append((99, [1.0, 0.0], "B"))  # mislabeled: inside the A cluster
    for i in range(20, 32):  # far-away B cluster around [0, 1]
        rows.append((i, [rng.uniform(-0.01, 0.01), 1.0 + rng.uniform(-0.01, 0.01)], "B"))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import knn_neighbors
    from pyspark.sql import functions as F

    nn = knn_neighbors(df, k=5, n_blocks=4)
    out = {
        r["vec_id"]: r["n"]
        for r in nn.groupBy(F.col("anchor").alias("vec_id")).agg(
            F.count(F.when(F.col("neg_label") != F.col("anchor_label"), 1)).alias("n")
        ).collect()
    }
    assert out[99] == 5          # every neighbor disagrees -> mislabeled
    assert out[25] == 0          # deep inside the B cluster -> clean


def test_mad_ignores_single_extreme_outlier(spark):
    """One extreme value must not move median/MAD (unlike mean/stddev),
    and must itself be flagged."""
    from pyspark.sql import functions as F

    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 1000.0]
    df = spark.createDataFrame([(i, "t", v) for i, v in enumerate(vals)], ["id", "event_type", "value"])
    med = df.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    mad = (
        df.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    ).collect()[0]
    assert 11.5 <= mad["med"] <= 13.0       # median unmoved by the outlier
    assert mad["mad"] <= 2.0                # MAD stays tight
    rz = 0.6745 * abs(1000.0 - mad["med"]) / mad["mad"]
    assert rz > 3.5                         # the outlier is flagged


def test_percentile_approx_within_rank_error_of_exact(spark, sf_dir):
    """Contract test for the approximate-percentile path: with accuracy
    a=10000, percentile_approx's rank error is bounded by n/a — assert
    the approx median's RANK in the exact sorted order is within bound
    (the documented guarantee, mirroring the sketch containment test)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata
    from pyspark.sql import functions as F

    e = load_testdata(spark, sf_dir, ["events"])["events"]
    n = e.count()
    acc = 10_000
    approx = e.agg(F.expr(f"percentile_approx(value, 0.5, {acc})").alias("a")).collect()[0]["a"]
    # rank of the approx value in the exact order
    rank = e.filter(F.col("value") <= approx).count()
    assert abs(rank - n / 2) <= n / acc + 1, (rank, n)


def test_transition_matrix_hand_sequence(spark):
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    base = dt.datetime(2024, 1, 1)
    seq = ["view", "click", "view", "click", "purchase"]
    rows = [(i, "u", t, base + dt.timedelta(minutes=i)) for i, t in enumerate(seq)]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in df.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out == {("view", "click"): 2, ("click", "view"): 1, ("click", "purchase"): 1}


def test_cohort_retention_distinct_weeks(spark):
    """Two events in week 0 count once; a week-2 return appears as its
    own offset row."""
    import datetime as dt

    from pyspark.sql import functions as F

    d0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "u1", d0),
        (2, "u1", d0 + dt.timedelta(days=2)),    # same week 0
        (3, "u1", d0 + dt.timedelta(days=15)),   # week 2
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    firstd = df.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("cohort_day"))
    act = (
        df.join(firstd, "user_id")
        .select(
            "user_id", "cohort_day",
            F.floor(F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7)
            .cast("long").alias("week_offset"),
        )
        .distinct()
    )
    out = {(str(r["cohort_day"]), r["week_offset"]): r["n"] for r in act.groupBy("cohort_day", "week_offset").agg(F.count("*").alias("n")).collect()}
    assert out == {("2024-01-01", 0): 1, ("2024-01-01", 2): 1}


def test_resize_thumb_fixed_size_and_deterministic(spark):
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.multimodal import (
        documents_as_assets,
        resize_thumb,
    )

    df = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz0123456789"), (2, "x"), (3, "")],
        ["doc_id", "text"],
    )
    out = {r["asset_id"]: r for r in resize_thumb(documents_as_assets(df)).collect()}
    # 16 samples x 2 hex chars, always
    assert len(out[1]["thumb_hex"]) == 32
    assert len(out[2]["thumb_hex"]) == 32  # 1-byte payload repeats its byte
    assert out[2]["thumb_hex"] == "78" * 16
    assert out[3]["thumb_hex"] == ""       # empty payload -> empty thumb


# ------------------------------------------------- round-4 ADVICE fixes

def test_hard_negative_drops_null_label_rows(spark):
    """NULL-label rows must neither anchor nor serve as negatives:
    numpy object != treats None as 'different from everything', while
    SQL's a.label <> b.label excludes those rows — the operator
    pre-filters so both agree (similarity.hard_negative_topk)."""
    rows = [
        (1, [1.0, 0.0], "A"),
        (2, [0.99, 0.14], None),  # nearest to 1 but unlabeled
        (3, [0.9, 0.44], "B"),
        (4, [0.0, 1.0], "B"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        hard_negative_topk,
    )

    out = hard_negative_topk(df, k=1, n_blocks=2).collect()
    top = {r["anchor"]: r["neg"] for r in out}
    assert 2 not in top                      # no anchor row for NULL label
    assert all(n != 2 for n in top.values())  # never emitted as a negative
    assert top[1] == 3


def test_exact_grid_kernels_match_brute_force_with_empty_blocks(spark):
    """Three rows over 16 blocks: most grid cells have one empty side,
    and ids 3 and 5 share one block (14 of 16) with the same label, so
    that block's diagonal cell holds no cross-label pair. All four exact
    grid kernels must still equal a numpy brute-force model row for
    row."""
    import numpy as np

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        all_pairs_cosine_topk,
        exact_near_dup_pairs,
        hard_negative_topk,
        knn_neighbors,
    )

    rows = [(3, [1.0, 0.2, 0.0], "A"), (4, [0.1, 1.0, 0.3], "B"), (5, [0.8, 0.6, 0.1], "A")]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    ids = [r[0] for r in rows]
    lab = {r[0]: r[2] for r in rows}
    m = np.array([r[1] for r in rows])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    cos = {
        (a, b): float(np.round(m[i] @ m[j], 6))
        for i, a in enumerate(ids)
        for j, b in enumerate(ids)
        if a != b
    }
    pairs = sorted(
        ((a, b, c) for (a, b), c in cos.items() if a < b), key=lambda t: (-t[2], t[0], t[1])
    )

    def nearest(a, same_label_ok):
        cands = [
            (a, lab[a], n, lab[n], cos[a, n])
            for n in ids
            if n != a and (same_label_ok or lab[n] != lab[a])
        ]
        return min(cands, key=lambda t: (-t[4], t[2]))

    def got(out):
        return sorted(tuple(r) for r in out.collect())

    assert got(all_pairs_cosine_topk(df, k=2, n_blocks=16)) == sorted(pairs[:2])
    assert got(exact_near_dup_pairs(df, threshold=0.5, n_blocks=16)) == sorted(
        p for p in pairs if p[2] >= 0.5
    )
    assert got(hard_negative_topk(df, k=1, n_blocks=16)) == sorted(
        (t[0], t[2], t[4]) for t in (nearest(a, False) for a in ids)
    )
    assert got(knn_neighbors(df, k=1, n_blocks=16)) == sorted(
        nearest(a, True) for a in ids
    )


def test_rebalance_null_group_neither_kept_nor_shrinks_min(spark):
    """A NULL group value is not a mixture component: its rows are
    dropped AND it must not participate in min(n) (otherwise a single
    NULL row would shrink every group's keep-threshold to ~1)."""
    rows = [(i, "big") for i in range(40)] + [(100 + i, "small") for i in range(20)]
    rows += [(990, None)]  # 1-row NULL group
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    out = rebalance_to_min_group(df, "grp", "doc_id").collect()
    grps = {r["grp"] for r in out}
    assert None not in grps
    # min group is 'small' (20), NOT the NULL singleton: 'small' keeps all
    n_small = sum(1 for r in out if r["grp"] == "small")
    assert n_small == 20


def test_robust_mad_zero_mad_group_yields_zero_outliers(spark, tmp_path):
    """A constant-valued event_type has MAD=0; under ANSI mode a plain
    division would abort the whole query — try_divide yields NULL rz and
    n_outliers=0, matching the DuckDB oracle's NULL division semantics."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 40
    ts = [dt.datetime(2024, 1, 1, 0, 0, i % 60) for i in range(n)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([i % 5 for i in range(n)], pa.int64()),
            "event_type": pa.array(
                ["const" if i % 2 == 0 else "vary" for i in range(n)]
            ),
            # 'const' group: identical values -> MAD == 0
            "value": pa.array(
                [7.5 if i % 2 == 0 else float(i) * (3 if i % 7 == 0 else 1) for i in range(n)],
                pa.float64(),
            ),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    from fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog import SPARK_QUERIES

    out = {
        r["event_type"]: r
        for r in SPARK_QUERIES["robust_mad_scores"](spark, str(tmp_path)).collect()
    }
    assert out["const"]["mad"] == 0.0
    assert out["const"]["n_outliers"] == 0
    assert out["const"]["n_rows"] == n // 2
    assert out["vary"]["mad"] > 0


def test_ivf_exact_replay_deterministic_and_probe_bounded(spark, sf_dir):
    """The integer-exact IVF replay is a pure function of the data: two
    runs hash-identical, every row sits in one of the n_probe probed
    lists, and rnk==1 is the max-dot row (ties to smallest id)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.similarity import (
        ivf_probe_exact,
    )
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import load_testdata

    emb = load_testdata(spark, sf_dir, ["embeddings"])["embeddings"]
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    a = sorted(map(tuple, ivf_probe_exact(emb, list(q)).collect()))
    b = sorted(map(tuple, ivf_probe_exact(emb, list(q)).collect()))
    assert a == b and len(a) > 0
    lists = {r[1] for r in a}
    assert len(lists) <= 4  # n_probe
    best = min(a, key=lambda r: r[3])  # rnk 1
    assert best[2] == max(r[2] for r in a)


# ------------------------------------------------ round-4 new analytics

def _events_fixture(spark, tmp_path, rows):
    """Write a minimal events.parquet (full 6-col schema) for query-level
    tests; rows = (event_id, ts, user_id, event_type, value)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    return str(tmp_path)


def test_churn_label_gap_semantics(spark, tmp_path):
    """User A: events 1 day apart (not churn) then a 20-day gap (churn)
    then a final event (churn: no next). User B: single event (churn)."""
    import datetime as dt

    from fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog import SPARK_QUERIES

    d0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, d0, 1, "t", 1.0),
        (2, d0 + dt.timedelta(days=1), 1, "t", 1.0),
        (3, d0 + dt.timedelta(days=21), 1, "t", 1.0),
        (4, d0, 2, "t", 1.0),
    ]
    sf = _events_fixture(spark, tmp_path, rows)
    out = SPARK_QUERIES["churn_label_next_gap"](spark, sf).collect()[0]
    # churned: event 3 (no next), event 4 (no next); event 2's gap is 20d >= 14
    assert out["n_events"] == 4
    assert out["n_churn"] == 3
    assert out["churn_rate"] == 0.75


def test_rolling_distinct_users_window_edges(spark, tmp_path):
    """Users active on day 1 contribute to report days 1..7 (clamped at
    max observed day); WAU on day 8 excludes a user whose last activity
    was day 1."""
    import datetime as dt

    from fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog import SPARK_QUERIES

    d0 = dt.datetime(2024, 1, 1, 12)
    rows = [
        (1, d0, 1, "t", 1.0),                         # user 1: day 1 only
        (2, d0, 2, "t", 1.0),                         # user 2: day 1
        (3, d0 + dt.timedelta(days=7), 2, "t", 1.0),  # user 2: day 8 too
    ]
    sf = _events_fixture(spark, tmp_path, rows)
    out = {
        r["day"]: r["wau"]
        for r in SPARK_QUERIES["rolling_distinct_users"](spark, sf).collect()
    }
    assert out["2024-01-01"] == 2
    assert out["2024-01-07"] == 2   # trailing 7-day window still sees day 1
    assert out["2024-01-08"] == 1   # day-1 activity aged out; only user 2


def test_cusum_identity_matches_recurrence(spark, tmp_path):
    """The windowed form (prefix - min(0, running-min prefix)) must equal
    the textbook recurrence s_t = max(0, s_{t-1} + (x_t - mu)) — checked
    per event type on a fixture with a planted level shift."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    # type 'a': flat 10.0 for 6 days then shifted to 20.0 for 6 days
    vals = [10.0] * 6 + [20.0] * 6
    rows = [(i, dt.datetime(2024, 1, 1 + i), 1, "a", v) for i, v in enumerate(vals)]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(tbl, tmp_path / "events.parquet")
    from fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog import SPARK_QUERIES

    out = {
        r["day"]: (r["cusum_pos"], r["cusum_neg"])
        for r in SPARK_QUERIES["cusum_drift_detection"](spark, str(tmp_path)).collect()
    }
    # python recurrence in integer cents, mu = floor-div mean
    cents = [int(round(v * 100)) for v in vals]
    mu = sum(cents) // len(cents)
    sp = sn = 0
    for i, c in enumerate(cents):
        sp = max(0, sp + (c - mu))
        sn = max(0, sn + (mu - c))
        day = f"2024-01-{1 + i:02d}"
        assert out[day] == (sp, sn), (day, out[day], (sp, sn))
    # the level shift must push the upward page positive
    assert out["2024-01-12"][0] > 0

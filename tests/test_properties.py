"""Property tests (SURVEY.md section 5.4): regex sanitizers on generated
dirty numerics. Each example runs one Spark job over a batch of values, so
example counts are kept small."""

from __future__ import annotations

import datetime
import decimal
import os

from hypothesis import example, given, settings
from hypothesis import strategies as st

from fiap_machine_learning_tech_challenge_2_etl_spark.operators import cleaning as C


def _brazilian_int(x: int) -> str:
    """12345678 -> '12.345.678' (thousands dots, as in B3 theoricalQty)."""
    sign = "-" if x < 0 else ""
    return sign + f"{abs(x):,}".replace(",", ".")


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**14), max_value=10**14), min_size=1, max_size=50
    )
)
def test_digits_to_long_parses_any_thousands_grouping(spark, xs):
    df = spark.createDataFrame(
        [(i, _brazilian_int(x)) for i, x in enumerate(xs)], "i long, dirty string"
    )
    out = {r["i"]: r["dirty"] for r in C.digits_to_long(df, "dirty").collect()}
    for i, x in enumerate(xs):
        assert out[i] == x


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=50
    )
)
def test_normalize_decimal_comma_matches_python_float(spark, ns):
    # n/1000 rendered with a decimal COMMA ('123,456'), as in B3 'part'
    df = spark.createDataFrame(
        [(i, f"{n // 1000},{abs(n) % 1000:03d}" if n >= 0 or n % 1000 == 0
          else f"-{abs(n) // 1000},{abs(n) % 1000:03d}")
         for i, n in enumerate(ns)],
        "i long, dirty string",
    )
    parsed = {r["i"]: r["dirty"] for r in C.normalize_decimal_comma(df, "dirty").collect()}
    for i, n in enumerate(ns):
        sign = "-" if n < 0 else ""
        assert parsed[i] == float(f"{sign}{abs(n) // 1000}.{abs(n) % 1000:03d}")


# ---------------------------------------------------------------- round 3


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),   # start
            st.integers(min_value=1, max_value=30),   # length
        ),
        min_size=1,
        max_size=30,
    )
)
def test_coalesce_intervals_invariants(spark, iv):
    """For ANY interval set: output spans are pairwise disjoint with gaps
    between them, every input interval is contained in exactly one span,
    and the merged-row counts sum to the input size."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.timeseries import (
        coalesce_intervals,
    )

    rows = [("k", s, s + ln) for s, ln in iv]
    df = spark.createDataFrame(rows, "k string, s int, e int")
    spans = sorted(
        (r["span_start"], r["span_end"], r["n_merged"])
        for r in coalesce_intervals(df, ["k"], "s", "e").collect()
    )
    assert sum(n for _, _, n in spans) == len(rows)
    for (s1, e1, _), (s2, e2, _) in zip(spans, spans[1:]):
        assert e1 < s2  # disjoint with a genuine gap (touching would merge)
    for s, ln in iv:
        assert any(ss <= s and s + ln <= ee for ss, ee, _ in spans)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),    # key
            st.sampled_from(["a", "b", "c"]),         # attr value
        ),
        min_size=1,
        max_size=30,
    )
)
def test_scd2_chain_invariants(spark, obs):
    """For ANY change log: per key, validity intervals chain exactly
    (valid_to == next valid_from), versions are 1..n, exactly one current
    row, and consecutive versions always differ in the tracked attr."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.history import scd2_history

    rows = [(k, v, t) for t, (k, v) in enumerate(obs)]
    df = spark.createDataFrame(rows, "k int, attr string, t int")
    out = scd2_history(df, ["k"], "t", ["attr"]).collect()
    bykey: dict[int, list] = {}
    for r in out:
        bykey.setdefault(r["k"], []).append(r)
    for k, versions in bykey.items():
        versions.sort(key=lambda r: r["version"])
        assert [r["version"] for r in versions] == list(range(1, len(versions) + 1))
        assert sum(1 for r in versions if r["is_current"]) == 1
        assert versions[-1]["is_current"]
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["attr"] != b["attr"]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(st.integers(1, 20), st.integers(0, 5)), max_size=20),
    st.lists(st.tuples(st.integers(1, 20), st.integers(0, 5)), max_size=20),
)
def test_snapshot_diff_apply_inverse(spark, old_rows, new_rows):
    """THE algebraic law: applying the extracted change feed to the old
    snapshot reconstructs the new snapshot exactly — diff and apply are
    inverses. Holds for any pair of keyed snapshots."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.history import (
        apply_cdc,
        snapshot_diff,
    )
    from pyspark.sql import functions as F

    old_d = {k: v for k, v in old_rows}
    new_d = {k: v for k, v in new_rows}
    old = spark.createDataFrame(
        [(k, v) for k, v in old_d.items()] or [(None, None)], "k int, v int"
    ).filter(F.col("k").isNotNull())
    new = spark.createDataFrame(
        [(k, v) for k, v in new_d.items()] or [(None, None)], "k int, v int"
    ).filter(F.col("k").isNotNull())

    feed = snapshot_diff(old, new, ["k"])
    # replay: old rows are seq-0 upserts, feed rows seq-1 ops (delete -> D)
    log = old.select(
        "k", "v", F.lit(0).alias("seq"), F.lit("U").alias("op")
    ).unionByName(
        feed.select(
            "k",
            "v",
            F.lit(1).alias("seq"),
            F.when(F.col("change") == "delete", "D").otherwise("U").alias("op"),
        )
    )
    rebuilt = {
        r["k"]: r["v"]
        for r in apply_cdc(log, ["k"], ["seq"]).select("k", "v").collect()
    }
    assert rebuilt == new_d


# ---------------------------------------------------- round-3 corpus ops

_WORDS = st.lists(
    st.sampled_from([f"w{i}" for i in range(12)]), min_size=1, max_size=40
)


@settings(max_examples=8, deadline=None)
@given(st.lists(_WORDS, min_size=2, max_size=8))
def test_segment_dedup_matches_python_model(spark, docs):
    """segment_dedup == the python model: cut 5-token segments, drop any
    segment string appearing in >1 distinct doc, rejoin survivors."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import segment_dedup

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {
        r["doc_id"]: r["clean_text"]
        for r in segment_dedup(df, seg_len=5).collect()
    }
    # python model
    segs = {}
    for i, ws in enumerate(docs):
        for s in range(0, len(ws), 5):
            seg = " ".join(ws[s : s + 5])
            segs.setdefault(seg, set()).add(i)
    for i, ws in enumerate(docs):
        kept = [
            " ".join(ws[s : s + 5])
            for s in range(0, len(ws), 5)
            if len(segs[" ".join(ws[s : s + 5])]) == 1
        ]
        assert out[i] == " ".join(kept)


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["g0", "g1", "g2", "g3"]),
        st.integers(min_value=1, max_value=60),
        min_size=2,
        max_size=4,
    )
)
def test_rebalance_matches_python_md5_model(spark, sizes):
    """rebalance_to_min_group == the python md5 model: integer threshold
    min_n*10000 div n_g, keep iff 60-bit md5 bucket < threshold."""
    import hashlib

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        rebalance_to_min_group,
    )

    rows, rid = [], 0
    for g, n in sorted(sizes.items()):
        for _ in range(n):
            rows.append((rid, g))
            rid += 1
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    got = {r["doc_id"] for r in rebalance_to_min_group(df, "grp", "doc_id").collect()}
    min_n = min(sizes.values())
    expect = set()
    for i, g in rows:
        thr = (min_n * 10000) // sizes[g]
        bucket = int(hashlib.md5(f"mix{i}".encode()).hexdigest()[:15], 16) % 10000
        if bucket < thr:
            expect.add(i)
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        min_size=1,
        max_size=30,
    ),
    st.sets(st.integers(min_value=0, max_value=14), min_size=1, max_size=4),
)
def test_bfs_hops_matches_python_bfs(spark, edges, seeds):
    """bfs_hops on random graphs == a plain Python BFS truncated at the
    iteration budget (vertices beyond it absent)."""
    from collections import deque

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.graph import bfs_hops

    iters = 3
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want: dict[int, int] = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        v = dq.popleft()
        if want[v] >= iters:
            continue
        for n in adj.get(v, ()):
            if n not in want:
                want[n] = want[v] + 1
                dq.append(n)
    edf = spark.createDataFrame(list(edges), "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "vertex long")
    got = {
        r["vertex"]: r["hop"] for r in bfs_hops(edf, sdf, iters=iters).collect()
    }
    # seeds not present in the edge list are still reported at hop 0;
    # python model above already includes them
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),     # user
            st.integers(min_value=0, max_value=50_000),  # offset seconds
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_sessionize_islands_match_python_model(spark, rows):
    """sessionize_gap_islands' (user, session) partitioning == a Python
    sweep with the same 30-minute gap rule, on synthetic event tables."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile

    from fiap_machine_learning_tech_challenge_2_etl_spark.queries_catalog import SPARK_QUERIES

    base = dt.datetime(2024, 1, 1)
    recs = sorted(
        (u, base + dt.timedelta(seconds=s), i)
        for i, (u, s) in enumerate(rows)
    )
    # python model: per user, order by (ts, event_id), split on gap > 1800 s
    want: dict[tuple[int, int], int] = {}
    per_user: dict[int, list] = {}
    for u, ts, eid in recs:
        per_user.setdefault(u, []).append((ts, eid))
    for u, evs in per_user.items():
        evs.sort()
        sid = 0
        prev = None
        for ts, _ in evs:
            if prev is not None and (ts - prev).total_seconds() > 1800:
                sid += 1
            want[(u, sid)] = want.get((u, sid), 0) + 1
            prev = ts
    with tempfile.TemporaryDirectory() as d:
        tbl = pa.table(
            {
                "event_id": pa.array([e for _, _, e in recs], pa.int64()),
                "ts": pa.array([t for _, t, _ in recs], pa.timestamp("us")),
                "user_id": pa.array([u for u, _, _ in recs], pa.int64()),
                "event_type": pa.array(["t"] * len(recs)),
                "value": pa.array([1.0] * len(recs), pa.float64()),
                "props": pa.array(["{}"] * len(recs)),
            }
        )
        pq.write_table(tbl, d + "/events.parquet")
        out = SPARK_QUERIES["sessionize_gap_islands"](spark, d).collect()
    got = {(r["user_id"], r["sess_idx"] - 1): r["n_events"] for r in out}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=80),
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=80),
)
def test_theta_sketch_algebra_exact_below_capacity(spark, xs, ys):
    """theta union/intersection/difference estimates equal exact Python
    set algebra whenever both sketches hold fewer than 2^lgK hashes
    (exact mode) — the property theta_sketch_overlap's oracle relies on."""
    from pyspark.sql import functions as F

    a, b = set(xs), set(ys)
    df = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in b], "g string, v long"
    )
    row = (
        df.groupBy("g")
        .agg(F.expr("theta_sketch_agg(v, 12)").alias("sk"))
        .groupBy()
        .pivot("g", ["a", "b"])
        .agg(F.first("sk"))
        .select(
            F.expr("theta_sketch_estimate(theta_union(a, b))").alias("u"),
            F.expr("theta_sketch_estimate(theta_intersection(a, b))").alias("i"),
            F.expr("theta_sketch_estimate(theta_difference(a, b))").alias("d"),
        )
        .collect()[0]
    )
    assert row["u"] == len(a | b)
    assert row["i"] == len(a & b)
    assert row["d"] == len(a - b)


# ---------------------------------------------------------------- round 8


@settings(max_examples=4, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 4)),   # key (None = unmergeable)
            st.one_of(st.none(), st.integers(0, 3)),   # ver (None ranks last)
            st.integers(0, 2),                         # payload
        ),
        min_size=1,
        max_size=10,
    ),
    cuts=st.lists(st.integers(0, 2), min_size=10, max_size=10),
)
def test_upsert_versioned_random_batching_independence(spark, rows, cuts):
    """The versioned merge's core contract on RANDOM row sets and RANDOM
    batch splits: the final table is a pure function of the delivered row
    set — one batch or any 3-way split produce identical tables, equal to
    a pure-Python argmax oracle (highest ver nulls-last, then the
    deterministic orderable-column tiebreak; NULL-key rows all pass
    through unmerged). Complements the fixed adversarial split in
    tools/stress_streaming.py's upsert leg."""
    import shutil
    import tempfile

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.sinks import upsert_by_key

    schema = "id long, ver long, payload long, day string"
    # day derives from the key: the sink's partition-stability precondition
    full = [(k, v, p, f"d{(k or 0) % 2}") for (k, v, p) in rows]
    batches: list[list] = [[], [], []]
    for r, c in zip(full, cuts):
        batches[c].append(r)

    def sortkey(t):
        return tuple((x is None, 0 if x is None else x) for x in t[:3]) + (t[3],)

    base = tempfile.mkdtemp(prefix="upsert_prop_")
    try:
        one, split = f"{base}/one", f"{base}/split"
        kw = dict(keys=["id"], partition_by=["day"], order_col="ver")
        upsert_by_key(spark, spark.createDataFrame(full, schema), one, **kw)
        for b in batches:
            if b:
                upsert_by_key(spark, spark.createDataFrame(b, schema), split, **kw)
        cols = ["id", "ver", "payload", "day"]
        got_one = sorted(
            (tuple(r) for r in spark.read.parquet(one).select(*cols).collect()),
            key=sortkey,
        )
        got_split = sorted(
            (tuple(r) for r in spark.read.parquet(split).select(*cols).collect()),
            key=sortkey,
        )
        assert got_one == got_split

        nullk = [t for t in full if t[0] is None]  # multiset, never merged
        keyed: dict = {}
        for t in full:
            if t[0] is not None:
                keyed.setdefault(t[0], set()).add(t)

        def rank(t):
            _, v, p, d = t
            return (v is not None, 0 if v is None else v, p, d)

        expect = sorted(
            [max(s, key=rank) for s in keyed.values()] + nullk, key=sortkey
        )
        assert got_one == expect
    finally:
        shutil.rmtree(base, ignore_errors=True)


@settings(max_examples=6, deadline=None)
@given(
    left=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),
            st.one_of(st.none(), st.integers(0, 20)),
        ),
        min_size=1,
        max_size=12,
    ),
    right=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),
            st.one_of(st.none(), st.integers(0, 20)),
            st.one_of(st.none(), st.integers(0, 9)),
            st.one_of(st.none(), st.integers(0, 9)),
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),  # unique (key, ts): asof precondition
    ),
)
def test_asof_join_matches_bruteforce_oracle(spark, left, right):
    """asof_join on random inputs == the brute-force 'latest right row at
    or before, as a UNIT' Python oracle — including NULL value columns in
    the matched row (the r08 struct-carry contract), no-match NULLs, and
    the r09 NULL-semantics contract: a right row with NULL key OR NULL ts
    never matches anything (NULL ts cannot satisfy ts <= left.ts), and a
    left row with NULL key or NULL ts gets NULL values."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, ts long, lid long"
    )
    rdf = spark.createDataFrame(right, "k long, ts long, a long, b long")
    got = {
        r["lid"]: (r["a"], r["b"])
        for r in asof_join(
            ldf, rdf, on="k", ts_col="ts", right_value_cols=["a", "b"]
        ).collect()
    }

    def oracle(k, t):
        if k is None or t is None:
            return (None, None)
        cands = [
            rr
            for rr in right
            if rr[0] is not None and rr[1] is not None and rr[0] == k and rr[1] <= t
        ]
        if not cands:
            return (None, None)
        best = max(cands, key=lambda rr: rr[1])
        return (best[2], best[3])

    for i, (k, t) in enumerate(left):
        assert got[i] == oracle(k, t), (i, k, t, got[i], oracle(k, t))


@settings(max_examples=6, deadline=None)
@given(
    left=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),
            st.one_of(st.none(), st.integers(0, 20)),
        ),
        min_size=1,
        max_size=12,
    ),
    right=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),
            st.one_of(st.none(), st.integers(0, 20)),
            st.one_of(st.none(), st.integers(0, 9)),
        ),
        min_size=0,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),  # unique (key, ts): asof precondition
    ),
    tol=st.sampled_from([0, 1, 3, 8, 25]),
)
def test_asof_join_tolerance_matches_bruteforce_oracle(spark, left, right, tol):
    """asof_join with a staleness tolerance == the Python oracle 'latest
    right row at or before AND at most tol old, else no match' — on random
    inputs with NULL keys/ts on both sides. The match decision is made on
    the CARRIED row: a fresh-enough older row never substitutes for a
    too-stale latest row (pandas merge_asof semantics), and tol=0 admits
    only exact-ts matches."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, ts long, lid long"
    )
    rdf = spark.createDataFrame(right, "k long, ts long, a long")
    got = {
        r["lid"]: r["a"]
        for r in asof_join(
            ldf, rdf, on="k", ts_col="ts", right_value_cols=["a"], tolerance=tol
        ).collect()
    }

    def oracle(k, t):
        if k is None or t is None:
            return None
        cands = [
            rr
            for rr in right
            if rr[0] is not None and rr[1] is not None and rr[0] == k and rr[1] <= t
        ]
        if not cands:
            return None
        best = max(cands, key=lambda rr: rr[1])
        return best[2] if best[1] >= t - tol else None

    for i, (k, t) in enumerate(left):
        assert got[i] == oracle(k, t), (i, k, t, tol, got[i], oracle(k, t))


@settings(max_examples=6, deadline=None)
@given(
    points=st.lists(st.integers(-50, 150), min_size=1, max_size=15),
    intervals=st.lists(
        st.tuples(st.integers(-50, 140), st.integers(0, 40)),
        min_size=0,
        max_size=10,
    ),
    width=st.sampled_from([1, 3, 7, 10]),
    half=st.booleans(),
)
def test_range_join_bucketed_matches_bruteforce(spark, points, intervals, width, half):
    """Bucketed point-in-interval join == brute-force [start, end)
    containment for random integer and HALF-INTEGER bounds (the
    fractional-end bucket edge), negatives included, at several bucket
    widths — the bucketing must never drop or duplicate a match."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import (
        range_join_bucketed,
    )

    shift = 0.5 if half else 0.0
    ivs = [(float(s) + shift, float(s + ln) + shift) for s, ln in intervals]
    ldf = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(points)], "pid long, p double"
    )
    rdf = spark.createDataFrame(
        [(j, s, e) for j, (s, e) in enumerate(ivs)], "iid long, s double, e double"
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join_bucketed(ldf, rdf, "p", "s", "e", bucket_width=width).collect()
    )
    want = sorted(
        (i, j)
        for i, p in enumerate(points)
        for j, (s, e) in enumerate(ivs)
        if s <= p < e
    )
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 60), st.integers(0, 15)),
        min_size=1,
        max_size=14,
    )
)
def test_coalesce_intervals_matches_bruteforce_union(spark, ivs):
    """Interval coalescing == brute-force union sweep per key: same spans,
    same member counts, for random overlapping/touching/duplicate/zero-
    length intervals."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.timeseries import (
        coalesce_intervals,
    )

    rows = [(f"k{g}", s, s + ln) for g, s, ln in ivs]
    df = spark.createDataFrame(rows, "k string, s int, e int")
    got = sorted(
        (r["k"], r["span_start"], r["span_end"], r["n_merged"])
        for r in coalesce_intervals(df, ["k"], "s", "e").collect()
    )

    want = []
    for key in {r[0] for r in rows}:
        mine = sorted((s, e) for kk, s, e in rows if kk == key)
        spans: list = []
        for s, e in mine:
            if spans and s <= spans[-1][1]:  # overlap or touch
                spans[-1][1] = max(spans[-1][1], e)
                spans[-1][2] += 1
            else:
                spans.append([s, e, 1])
        want += [(key, s, e, n) for s, e, n in spans]
    assert got == sorted(want)


@settings(max_examples=6, deadline=None)
@given(
    ops=st.lists(
        st.tuples(
            st.integers(0, 4),                      # key
            st.sampled_from(["I", "U", "D"]),       # op
            st.integers(0, 9),                      # payload
        ),
        min_size=1,
        max_size=16,
    )
)
def test_apply_cdc_matches_bruteforce_replay(spark, ops):
    """CDC collapse == brute-force sequential replay: last op per key wins,
    deletes tombstone the key. seq makes the per-key order total."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.history import apply_cdc

    rows = [(k, op, v, i) for i, (k, op, v) in enumerate(ops)]
    df = spark.createDataFrame(rows, "k long, op string, v long, seq long")
    got = sorted(
        (r["k"], r["v"]) for r in apply_cdc(df, ["k"], ["seq"]).collect()
    )

    state: dict = {}
    for k, op, v, _ in rows:  # already in seq order
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == sorted(state.items())


@settings(max_examples=6, deadline=None)
@given(
    obs=st.lists(
        st.tuples(
            st.integers(0, 2),                          # key
            st.one_of(st.none(), st.sampled_from("ab")),  # attr (nullable)
        ),
        min_size=1,
        max_size=14,
    )
)
def test_scd2_history_matches_runlength_oracle(spark, obs):
    """SCD2 compression == brute-force run-length encoding per key over
    the (ts, seq)-ordered change log: identical runs collapse (null-safe),
    valid_to chains to the next run's valid_from, last run is current."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.history import scd2_history

    rows = [(k, a, i, i) for i, (k, a) in enumerate(obs)]  # ts = seq = i
    df = spark.createDataFrame(rows, "k long, attr string, t long, seq long")
    got = sorted(
        (r["k"], r["version"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(df, ["k"], "t", ["attr"], tiebreak=["seq"]).collect()
    )

    want = []
    for key in {r[0] for r in rows}:
        mine = [(t, a) for k, a, t, _ in rows if k == key]  # already ordered
        runs = []
        for t, a in mine:
            if not runs or runs[-1][1] != a:  # null-safe: None != 'a', None == None
                runs.append([t, a])
        for v, (t, a) in enumerate(runs, start=1):
            nxt = runs[v][0] if v < len(runs) else None
            want.append((key, v, a, t, nxt, nxt is None))
    assert got == sorted(want)


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 3, 4]),
    window=st.sampled_from([2, 3, 4]),
)
def test_winnowing_matches_python_model(spark, docs, k, window):
    """winnowing_fingerprints == a direct Python implementation of
    Schleimer/Wilkerson/Aiken winnowing over the same normalization,
    k-gram hash (first 10 hex chars of md5), and rightmost-min-per-window
    selection — including short docs (no complete window -> no rows) and
    repeated grams (dedup of identical (pos, fp) selections)."""
    import hashlib
    import re

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
        winnowing_fingerprints,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in winnowing_fingerprints(df, k=k, window=window).collect()
    }

    expect = set()
    for i, t in enumerate(docs):
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        if len(norm) < k:
            # operator: sequence(1, greatest(len-k+1, 1)) -> one gram even
            # for short docs (substr pads nothing; gram is the short tail)
            grams = [norm[j : j + k] for j in range(max(len(norm) - k + 1, 1))]
        else:
            grams = [norm[j : j + k] for j in range(len(norm) - k + 1)]
        hashes = [
            int(hashlib.md5(g.encode()).hexdigest()[:10], 16) for g in grams
        ]
        for wstart in range(len(hashes) - window + 1):
            wh = hashes[wstart : wstart + window]
            # rightmost minimum
            mn = min(wh)
            pos_in_w = max(j for j, h in enumerate(wh) if h == mn)
            expect.add((i, wstart + pos_in_w + 1, mn))
    assert got == expect, (k, window, got ^ expect)


@settings(max_examples=5, deadline=None)
@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
    k=st.sampled_from([1, 2, 3, 5]),
    parts=st.sampled_from([2, 3, 7]),
)
def test_global_rank_cumsum_ntile_match_python(spark, vals, k, parts):
    """global_row_number / global_cumsum / ntile_from_rank over a random
    total order == Python sorted-prefix arithmetic, independent of the
    range-partition count (the distributed two-pass must equal the
    single-task semantics exactly)."""
    from pyspark.sql import functions as F

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.windows import (
        global_cumsum,
        global_row_number,
        ntile_from_rank,
    )

    rows = [(i, v) for i, v in enumerate(vals)]  # i = unique tiebreak
    df = spark.createDataFrame(rows, "uid long, v long").repartition(5)
    n = len(rows)
    ranked = global_row_number(df, ["v", "uid"], num_parts=parts)
    out = {
        r["uid"]: (r["global_rn"], r["nt"])
        for r in ranked.withColumn("n_total", F.lit(n))
        .withColumn("nt", ntile_from_rank("global_rn", "n_total", k))
        .collect()
    }
    csum = {
        r["uid"]: r["cum_sum"]
        for r in global_cumsum(df, ["v", "uid"], "v", num_parts=parts).collect()
    }

    ordered = sorted(rows, key=lambda t: (t[1], t[0]))
    run = 0
    size, rem = n // k, n % k
    for rank0, (uid, v) in enumerate(ordered):
        rn = rank0 + 1
        run += v
        # exact SQL NTILE: first `rem` buckets get size+1 rows
        if rn <= rem * (size + 1):
            nt = (rn - 1) // (size + 1) + 1
        else:
            nt = rem + ((rn - 1 - rem * (size + 1)) // size + 1 if size else 0)
        assert out[uid] == (rn, nt), (uid, out[uid], (rn, nt))
        assert csum[uid] == run, (uid, csum[uid], run)


@settings(max_examples=5, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-100, 100)),
        min_size=1,
        max_size=40,
    ),
    buckets=st.sampled_from([2, 4, 16]),
)
def test_salted_agg_matches_plain_groupby_property(spark, rows, buckets):
    """Two-phase salted aggregation == plain groupBy for every algebraic
    aggregate it supports, on random skewed inputs and any salt width."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.joins import salted_agg

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k long, v long, uid long"
    )
    got = {
        r["k"]: (r["s"], r["c"], r["mn"], r["mx"])
        for r in salted_agg(
            df,
            ["k"],
            [("sum", "v", "s"), ("count", "v", "c"), ("min", "v", "mn"), ("max", "v", "mx")],
            salt_buckets=buckets,
            salt_source="uid",
        ).collect()
    }
    expect = {}
    for k_, v in rows:
        s, c, mn, mx = expect.get(k_, (0, 0, None, None))
        expect[k_] = (
            s + v,
            c + 1,
            v if mn is None else min(mn, v),
            v if mx is None else max(mx, v),
        )
    assert got == expect


def _py_bucket(key: str, salt: str = "") -> int:
    """Python replica of sampling.hash_bucket: md5-60bit of (salt||key) % 10000."""
    import hashlib

    return int(hashlib.md5((salt + key).encode()).hexdigest()[:15], 16) % 10_000


@settings(max_examples=6, deadline=None)
@given(
    keys=st.lists(st.text(alphabet="abc0129", min_size=1, max_size=12),
                  min_size=1, max_size=40, unique=True),
    w_train=st.integers(1, 8),
    w_val=st.integers(1, 8),
    salt=st.sampled_from(["", "s1"]),
)
def test_hash_split_matches_python_md5_model(spark, keys, w_train, w_val, salt):
    """hash_split / deterministic_sample == the Python md5-bucket model,
    and membership is invariant under repartitioning — the whole contract
    (a row's split is a pure function of the row) that df.sample() lacks."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
    )

    tot = w_train + w_val + 2
    weights = {"train": w_train / tot, "val": w_val / tot, "test": 2 / tot}
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {r["k"]: r["split"] for r in hash_split(df, "k", weights, salt).collect()}
    got_reparted = {
        r["k"]: r["split"]
        for r in hash_split(df.repartition(7), "k", weights, salt).collect()
    }
    assert got == got_reparted  # partitioning-invariant

    hi_train = int(round(weights["train"] * 10_000))
    hi_val = hi_train + int(round(weights["val"] * 10_000))
    for k in keys:
        b = _py_bucket(k, salt)
        expect = "train" if b < hi_train else ("val" if b < hi_val else "test")
        assert got[k] == expect, (k, b, got[k], expect)

    frac = weights["train"]
    sampled = {r["k"] for r in deterministic_sample(df, "k", frac, salt).collect()}
    assert sampled == {k for k in keys if _py_bucket(k, salt) < int(round(frac * 10_000))}


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "aa"]), min_size=0, max_size=15),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_stats_match_python_model(spark, docs):
    """add_repetition_stats == the direct Python duplicate-word /
    duplicate-trigram ratios, including the n<3 empty-trigram edge
    (NULL ratio) and empty docs."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
        add_repetition_stats,
    )

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_words"], r["dup_word_ratio"], r["dup_trigram_ratio"])
        for r in add_repetition_stats(df).collect()
    }
    for i, t in enumerate(texts):
        ws = t.split(" ")  # raw single-space split, same as the operator
        n = len(ws)
        dup_w = round(1.0 - len(set(ws)) / n, 6) if n > 0 else None
        tris = [" ".join(ws[j : j + 3]) for j in range(n - 2)] if n >= 3 else []
        dup_t = round(1.0 - len(set(tris)) / len(tris), 6) if tris else None
        assert got[i] == (n, dup_w, dup_t), (i, t, got[i], (n, dup_w, dup_t))


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.text(alphabet="abz 09", min_size=0, max_size=30),
        min_size=1,
        max_size=8,
    )
)
def test_char_entropy_matches_python_model(spark, docs):
    """add_char_entropy == Python Shannon entropy over character counts
    (ascending-count fold order replicated) plus exact bigram counts —
    including empty docs (entropy 0.0, zero bigrams)."""
    import math

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
        add_char_entropy,
    )

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["char_entropy"], r["n_distinct_bigrams"], r["n_bigrams"])
        for r in add_char_entropy(df).collect()
    }
    for i, t in enumerate(docs):
        n = len(t)
        if n:
            counts = sorted(__import__("collections").Counter(t).values())
            ent = 0.0
            for k in counts:  # same ascending fold order as the operator
                ent = ent - (k / n) * math.log2(k / n)
            ent = round(ent, 6)
        else:
            ent = 0.0
        bigrams = [t[j : j + 2] for j in range(n - 1)]
        expect = (ent, len(set(bigrams)), len(bigrams))
        assert got[i] == expect, (i, repr(t), got[i], expect)


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.text(alphabet="the la de und em ,.!x9", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_token_stats_and_language_id_match_python(spark, docs):
    """add_token_stats and add_language_id == direct Python models over
    the same normalization (lower + whitespace-collapse + trim), the same
    BPE-ish regex (ASCII inputs, where Java and Python regex agree), and
    the same stopword-ratio argmax with alphabetical tiebreak."""
    import re

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.text import (
        STOPWORDS,
        add_language_id,
        add_token_stats,
    )

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    stats = {
        r["doc_id"]: (r["n_chars_calc"], r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in add_token_stats(df).collect()
    }
    langs = {r["doc_id"]: r["lang_pred"] for r in add_language_id(df).collect()}

    for i, t in enumerate(docs):
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        toks = norm.split(" ")
        n_bpe = len(re.findall(r"\w+|[^\w\s]", t))
        assert stats[i] == (len(t), len(toks), n_bpe), (i, repr(t), stats[i])

        n = max(len(toks), 1)
        ratios = {
            lang: sum(1 for w in toks if w in sw) / n
            for lang, sw in STOPWORDS.items()
        }
        best = max(ratios.values())
        if best <= 0:
            expect = "unknown"
        else:
            expect = min(lang for lang, r in ratios.items() if r == best)
        assert langs[i] == expect, (i, repr(t), langs[i], expect, ratios)


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.text(alphabet="abc012", min_size=1, max_size=8),
                  st.integers(-2, 50)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    k=st.sampled_from([1, 3, 7]),
)
def test_weighted_sample_topk_matches_python_model(spark, rows, k):
    """weighted_sample_topk == the Python Efraimidis-Spirakis model over
    the same md5-derived u: score = u^(1/w) rounded to 9dp, top-k by
    (score desc, key asc), rows with w <= 0 excluded."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        weighted_sample_topk,
    )

    df = spark.createDataFrame(rows, "id string, w long")
    got = [
        (r["id"], r["sample_score"])
        for r in weighted_sample_topk(df, "id", "w", k).collect()
    ]

    scored = []
    for key, w in rows:
        if w <= 0:
            continue
        u = (_py_bucket(key) + 0.5) / 10_000
        scored.append((key, round(u ** (1.0 / w), 9)))
    expect = sorted(scored, key=lambda t: (-t[1], t[0]))[:k]
    assert got == expect, (got, expect)


@settings(max_examples=6, deadline=None)
@given(
    xs=st.lists(
        st.one_of(st.none(), st.integers(-1000, 1000)),
        min_size=1,
        max_size=40,
    ),
    nbins=st.sampled_from([1, 4, 10]),
)
def test_numeric_histogram_matches_python_model(spark, xs, nbins):
    """numeric_histogram == the same closed-form float64 bucketing in
    Python (identical IEEE arithmetic): equi-width buckets over global
    min/max, NULLs excluded, the top boundary folded into the last
    bucket, and the constant-column (width 0) edge folding everything
    into bucket 0 — the r08 DIVIDE_BY_ZERO fix pinned from a second
    angle."""
    import math

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.profiling import (
        numeric_histogram,
    )

    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x long")
    got = {
        r["bucket"]: (r["lo"], r["hi"], r["n"])
        for r in numeric_histogram(df, "x", nbins=nbins).collect()
    }

    vals = [float(x) for x in xs if x is not None]
    if not vals:
        assert got == {}
        return
    lo, hi = min(vals), max(vals)
    width = (hi - lo) / float(nbins)
    expect: dict = {}
    for v in vals:
        b = 0 if width == 0.0 else min(int(math.floor((v - lo) / width)), nbins - 1)
        expect[b] = expect.get(b, 0) + 1
    assert {b: n for b, (_, _, n) in got.items()} == expect, (got, expect)
    for b, (blo, bhi, _) in got.items():
        assert blo == round(lo + b * (hi - lo) / nbins, 6)
        assert bhi == round(lo + (b + 1) * (hi - lo) / nbins, 6)


@settings(max_examples=6, deadline=None)
@given(
    base=st.lists(st.integers(-50, 150), min_size=2, max_size=40),
    cur=st.lists(st.integers(-200, 300), min_size=1, max_size=40),
    nbins=st.sampled_from([2, 5, 10]),
)
def test_psi_drift_matches_python_model(spark, base, cur, nbins):
    """psi_drift on random integer snapshots == a direct Python model of
    the same formula: equi-width bins over the BASELINE min/max, edge-bin
    clamp for out-of-range current values, eps-floored proportions,
    (p_c - p_b) * ln(p_c / p_b) rounded to 6 dp — including the
    degenerate constant-baseline case (width 0 -> everything in bin 0)."""
    import math

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.profiling import psi_drift

    bdf = spark.createDataFrame([(float(x),) for x in base], "x double")
    cdf = spark.createDataFrame([(float(x),) for x in cur], "x double")
    got = {
        r["bucket"]: (r["n_base"], r["n_cur"], r["psi_term"])
        for r in psi_drift(bdf, cdf, "x", nbins=nbins).collect()
    }

    lo, hi = float(min(base)), float(max(base))
    width = (hi - lo) / nbins

    def bucket(x):
        if width == 0.0:
            return 0
        return max(0, min(int(math.floor((x - lo) / width)), nbins - 1))

    nb: dict = {}
    nc: dict = {}
    for x in base:
        nb[bucket(x)] = nb.get(bucket(x), 0) + 1
    for x in cur:
        nc[bucket(x)] = nc.get(bucket(x), 0) + 1
    buckets = set(nb) | set(nc)
    tb, tc = float(len(base)), float(len(cur))
    eps = 1e-6
    for b in buckets:
        p_b = max(nb.get(b, 0) / tb, eps)
        p_c = max(nc.get(b, 0) / tc, eps)
        want = round((p_c - p_b) * math.log(p_c / p_b), 6)
        gb, gc, gpsi = got[b]
        assert (gb, gc) == (nb.get(b, 0), nc.get(b, 0)), (b, got[b])
        assert abs(gpsi - want) < 1e-9, (b, gpsi, want)
    assert set(got) == buckets


@settings(max_examples=6, deadline=None)
@given(
    masses=st.dictionaries(
        st.sampled_from(["g0", "g1", "g2", "g3", "g4"]),
        st.integers(min_value=1, max_value=500),
        min_size=2,
        max_size=5,
    ),
    alpha=st.sampled_from([0.0, 0.3, 0.7, 1.0]),
    frac=st.sampled_from([0.25, 0.5, 1.0]),
)
# exact tie: 0.5 * (1/4) / (336/945) == 0.3515625 rounds half up to 0.351563
@example(masses={"g0": 1, "g1": 108, "g2": 336, "g3": 500}, alpha=0.0, frac=0.5)
def test_temperature_mix_rates_match_python_model(spark, masses, alpha, frac):
    """temperature_mix keep rates on random group-mass layouts == the
    Python closed form min(1, frac * (p^alpha / sum p^alpha) / p) rounded
    to 6 dp the way Spark's round does it (HALF_UP on the double's decimal
    form, so an exact tie like 0.3515625 goes up, where Python's round
    goes to even) — including alpha=0 (uniform target), alpha=1 (natural
    proportions -> flat frac), and rate clipping when a rare group's boost
    exceeds 1. Rows are one-per-unit-mass so group mass == row count."""
    from decimal import ROUND_HALF_UP, Decimal

    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.sampling import (
        temperature_mix,
    )

    rows = []
    rid = 0
    for g, m in masses.items():
        for _ in range(m):
            rows.append((rid, g, 1))
            rid += 1
    df = spark.createDataFrame(rows, "row_id long, grp string, w int")
    kept = temperature_mix(
        df, group_col="grp", weight_col="w", key_col="row_id",
        alpha=alpha, target_frac=frac,
    )
    got = {
        r["grp"]: r["keep_rate"]
        for r in kept.select("grp", "keep_rate").distinct().collect()
    }
    tot = sum(masses.values())
    z = sum((m / tot) ** alpha for m in masses.values())
    for g, m in masses.items():
        p = m / tot
        raw = min(1.0, frac * ((p**alpha) / z) / p)
        want = float(Decimal(repr(raw)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        # a group may vanish from `kept` if its sampled-in set is empty;
        # only compare rates for groups that surfaced
        if g in got:
            assert abs(got[g] - want) < 1e-9, (g, got[g], want, alpha, frac)
    assert got, "no group surfaced at all"


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(_WORDS, min_size=2, max_size=8),
    k=st.sampled_from([3, 5]),
    stride=st.sampled_from([1, 2, 3]),
)
def test_overlap_span_dedup_matches_python_model(spark, docs, k, stride):
    """remove_duplicated_spans == the python model: overlapping k-token
    windows at the given stride (short docs -> one whole-doc window),
    windows shared across docs mark their covered positions, survivors
    rejoin in order — and a position covered by ANY duplicated window is
    removed even when other windows covering it are unique."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    if stride > k:
        stride = k
    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_toks"], r["n_kept"], r["clean_text"])
        for r in remove_duplicated_spans(df, k=k, stride=stride).collect()
    }

    def windows(ws):
        last = max(len(ws) - k + 1, 1)
        return [(s, " ".join(ws[s - 1 : s - 1 + k])) for s in range(1, last + 1, stride)]

    seen: dict = {}
    for i, ws in enumerate(docs):
        for _s, wstr in windows(ws):
            seen.setdefault(wstr, set()).add(i)
    for i, ws in enumerate(docs):
        cov = set()
        for s, wstr in windows(ws):
            if len(seen[wstr]) > 1:
                cov.update(range(s, min(s + k - 1, len(ws)) + 1))
        kept = [w for p, w in enumerate(ws, start=1) if p not in cov]
        assert out[i] == (len(ws), len(kept), " ".join(kept)), (i, k, stride)


def test_overlap_span_dedup_keeps_empty_docs(spark):
    """One row per document INCLUDING NULL/empty/whitespace-only text
    (n_toks 0, clean_text '') — a curation pipeline that joins the result
    back by doc_id must not silently lose documents."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_toks"], r["n_kept"], r["clean_text"])
        for r in remove_duplicated_spans(df, k=3, stride=1).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1] == (4, 4, "a b c d")  # unique doc survives whole
    for d in (2, 3, 4):
        assert out[d] == (0, 0, ""), (d, out[d])


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12), min_size=1, max_size=60
    ),
    st.integers(min_value=1, max_value=4),
)
def test_footer_stats_equal_true_extremes(spark, tmp_path_factory, xs, n_files):
    """Property: for ANY data distribution and file split, the footer
    stats report's per-file (n_rows, min, max) aggregates to exactly the
    true count/min/max of the written column — footer stats never lie,
    which is the premise every min/max skipping decision rests on."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.parquet import footer_stats_report

    d = str(tmp_path_factory.mktemp("fsprop"))
    spark.createDataFrame([(x,) for x in xs], "v long").repartition(
        n_files
    ).write.mode("overwrite").parquet(d)
    rep = footer_stats_report(spark, d, "v").collect()
    # files with rows carry stats; empty split files carry NULLs
    assert sum(r["n_rows"] for r in rep) == len(xs)
    mins = [int(r["min_value"]) for r in rep if r["min_value"] is not None]
    maxs = [int(r["max_value"]) for r in rep if r["max_value"] is not None]
    assert min(mins) == min(xs)
    assert max(maxs) == max(xs)


@settings(max_examples=60, deadline=None)
@given(
    st.sets(
        st.one_of(
            st.integers(min_value=-(10**15), max_value=10**15),
            st.text(max_size=24),
            st.booleans(),
        ),
        min_size=1,
        max_size=400,
    ),
    st.one_of(
        st.integers(min_value=-(10**15), max_value=10**15),
        st.text(max_size=24),
        st.booleans(),
    ),
)
def test_bloom_never_false_negative(stored, probe):
    """Property (the one the superset contract rests on): a bloom built
    over ANY value set answers maybe-present for EVERY stored value —
    a false negative would make prune_manifest_files drop a file that
    holds the key, i.e. lose rows. Probes for non-stored values may
    false-positive (that only keeps a file); string forms hash apart
    from numerics (1 vs "1" share no key), but bool COLLAPSES into the
    int encoding (True == 1 under Spark SQL's coercing equality, so a
    True-probe against an int column must still hit the bloom)."""
    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        _bloom_build,
        _bloom_key,
        _bloom_maybe_contains,
    )

    bloom = _bloom_build(stored)
    for v in stored:
        assert _bloom_maybe_contains(bloom, _bloom_key(v)), v
    # canonical keys: "1" is distinct from the numeric family, but
    # True and 1 share one key (Spark SQL coerces bool = int equality)
    assert _bloom_key("1") != _bloom_key(1)
    assert _bloom_key(True) == _bloom_key(1)
    assert _bloom_key(False) == _bloom_key(0)
    if probe not in stored:
        # no assertion on the answer (false positives are legal) — but
        # the probe must at least be computable for every supported type
        assert _bloom_key(probe) is not None


# ------------------------------------------------- exact literal frames

_LITERAL_DDL = (
    "b bigint, i int, s smallint, t tinyint, d double, f float, "
    "dec decimal(20,2), str string, bo boolean, dt date, ts timestamp, "
    "tn timestamp_ntz, bin binary, arr array<bigint>, "
    "m map<string,double>, st struct<x:bigint,y:timestamp>"
)
_I64 = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.sampled_from([-(2**63), 2**63 - 1, 2**53 + 1, -(2**53) - 1, 0]),
)
_F64 = st.floats(allow_nan=True, allow_infinity=True)
_TEXT = st.text(st.characters(blacklist_categories=("Cs",)), max_size=6)
_NAIVE = st.datetimes(
    min_value=datetime.datetime(1902, 1, 1),
    max_value=datetime.datetime(2200, 12, 31),
)
_LITERAL_ROW = st.tuples(
    *[
        st.none() | s
        for s in (
            _I64,
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            st.integers(min_value=-(2**15), max_value=2**15 - 1),
            st.integers(min_value=-128, max_value=127),
            _F64,
            st.floats(width=32),
            st.decimals(
                min_value=-(10**18) + 1, max_value=10**18 - 1, places=2,
                allow_nan=False, allow_infinity=False,
            ),
            _TEXT,
            st.booleans(),
            st.dates(
                min_value=datetime.date(1, 1, 1),
                max_value=datetime.date(9999, 12, 31),
            ),
            _NAIVE,
            _NAIVE,
            st.binary(max_size=6),
            st.lists(st.none() | _I64, max_size=3),
            st.dictionaries(_TEXT, st.none() | _F64, max_size=3),
            st.tuples(st.none() | _I64, st.none() | _NAIVE),
        )
    ]
)


def _canon(v):
    """Comparable form of a collected value: floats by repr (NaN equals
    NaN, -0.0 differs from 0.0), maps as sorted items."""
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dict):
        return sorted((_canon(k), _canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


@settings(max_examples=15, deadline=None)
@given(st.lists(_LITERAL_ROW, max_size=6))
def test_local_relation_df_matches_create_dataframe(spark, rows):
    """``local_relation_df`` (Arrow -> LocalRelation) collects exactly
    what ``spark.createDataFrame(rows, schema)`` (pickled rows) does,
    for every literal type: NULL beside 64-bit extremes, NaN apart from
    NULL, +-inf, decimals, nested arrays/maps/structs, binary, and naive
    timestamps read as process-local wall time under a non-UTC ``TZ``.
    And it plans as a ``LocalRelation``, never a Python RDD."""
    import os
    import time

    from fiap_machine_learning_tech_challenge_2_etl_spark.util import (
        local_relation_df,
    )

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Sao_Paulo"
    time.tzset()
    try:
        fast = local_relation_df(spark, rows, _LITERAL_DDL)
        slow = spark.createDataFrame(rows, _LITERAL_DDL)
        assert fast.schema == slow.schema
        assert _canon(fast.collect()) == _canon(slow.collect())
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    plan = fast._jdf.queryExecution().logical()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()


# ------------------------------------------- manifest sink round trip

_SINK_DDL = (
    "b bigint, i int, d double, str string, bo boolean, dt date, "
    "ts timestamp, dec decimal(18,4)"
)
_SINK_TEXT = st.text(
    st.sampled_from('"\\\n\t\x00\x1f\x7fé漢') | st.characters(blacklist_categories=("Cs",)),
    max_size=8,
)
_SINK_ROW = st.tuples(
    *[
        st.none() | s
        for s in (
            _I64,
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            _F64,
            _SINK_TEXT,
            st.booleans(),
            st.dates(
                min_value=datetime.date(1, 1, 1),
                max_value=datetime.date(9999, 12, 31),
            ),
            # fold is not data (Spark keeps none), only repr shows it
            _NAIVE.map(lambda t: t.replace(fold=0)),
            st.decimals(
                min_value=-(10**14) + 1, max_value=10**14 - 1, places=4,
                allow_nan=False, allow_infinity=False,
            ).map(lambda x: x.quantize(decimal.Decimal("0.0001"))),
        )
    ]
)


def _one_typed_row(col: str, value) -> list:
    names = [c.split()[0] for c in _SINK_DDL.split(", ")]
    return [tuple(value if n == col else None for n in names)]


@settings(max_examples=30, deadline=None)
@given(st.lists(_SINK_ROW, max_size=12))
@example(_one_typed_row("dt", datetime.date(2024, 2, 29)))
@example(_one_typed_row("ts", datetime.datetime(2024, 2, 29, 23, 59, 59, 999999)))
@example(_one_typed_row("dec", decimal.Decimal("-12345678901234.5678")))
def test_manifest_sink_default_write_round_trips(spark, rows):
    """A frame written through the DEFAULT manifest sink reads back
    bit-equal — through ``read_manifest_sink`` and through one
    ``manifestlog`` availableNow drain: 64/32-bit integers beside NULL,
    NaN and +-inf doubles, strings with quotes, backslashes, control and
    non-ASCII characters, booleans, dates, timestamps and decimals."""
    import tempfile

    from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
        ManifestLogDataSource,
        ManifestSinkDataSource,
        read_manifest_sink,
    )

    def canon(rs):
        return sorted(repr(_canon(r)) for r in rs)

    spark.dataSource.register(ManifestSinkDataSource)
    spark.dataSource.register(ManifestLogDataSource)
    want = canon(rows)
    with tempfile.TemporaryDirectory() as tmp:
        d = os.path.join(tmp, "t")
        df = spark.createDataFrame(rows, _SINK_DDL)
        df.write.format("manifestsink").option("path", d).mode("append").save()
        back = read_manifest_sink(spark, d)
        assert back.schema == df.schema
        assert canon(back.collect()) == want
        streamed: list = []
        (
            spark.readStream.format("manifestlog").option("path", d).load()
            .writeStream.foreachBatch(lambda b, _e: streamed.extend(b.collect()))
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        assert canon(streamed) == want

"""Workload ``lakehouse_upsert``: writes beside reads on the manifest-log
table format (``sources.pysink``).

Set-up writes a seeded, id-range-clustered table with ``statsColumns``
and ``bloomFilterColumns`` on the key. One client then runs blocks of:

- point merges (``merge_into_manifest_sink`` with 32 keys, under the
  128-key limit, so the merge takes its ``util.local_relation_df`` path):
  a quarter inserts of new keys, the rest skewed toward the newest key
  range;
- three latest-snapshot point lookups through ``read_manifest_sink`` after
  each merge;
- once per block: a join-mode merge (192 keys), a
  ``delete_from_manifest_sink`` of 8 older keys and a version-pinned
  range read.

The generator plays every op against a Python model of the table while
it builds the op list, so the expected result of each read and each
version is known before anything runs.
"""

from __future__ import annotations

import os
import random

import harness
from harness import Run, median

SEED_ROWS = 10_000
SEED_FILES = 8
POINT_KEYS = 32
JOIN_KEYS = 192
DELETE_KEYS = 8
READS_PER_MERGE = 3
MERGES_PER_BLOCK = 8
TRAVEL_RANGE = 256
# Warm-up: two point merges and their lookups, then one block tail (join
# merge, delete, version-pinned read). The second run of each kind
# already takes its steady time.
WARMUP_MERGES = 2
# A block (8 point merges, 24 lookups, a join merge, a delete and a
# version-pinned read) took 18-23 s on one pinned CPU of a 4-core x86 VM.
# The seed write is version 1 and the warm-up versions 2-5, so the first
# block's point merges are versions 6-13: none of them writes a log
# checkpoint (every 16 commits), so all are one kind of commit.
BLOCK_SECONDS = 15.0

SCHEMA = "id long, code string, qty long, price double, seq long"
COLUMNS = ("id", "code", "qty", "price", "seq")

TRACE_TARGETS = (
    (f"{harness.PACKAGE}.sources.pysink", "merge_into_manifest_sink", "pysink.merge"),
    (f"{harness.PACKAGE}.sources.pysink", "delete_from_manifest_sink", "pysink.delete"),
    (f"{harness.PACKAGE}.sources.pysink", "read_manifest_sink", "pysink.read"),
    (f"{harness.PACKAGE}.util", "local_relation_df", "util.local_relation"),
)


# The seed rows are a function of (id, salt) that Spark computes over
# spark.range, so the seed table is written without shipping rows from
# the driver; seed_row is the same function in Python.
SEED_SQL = {
    "code": "concat(chr(65 + h % 26), chr(65 + (h div 26) % 26), "
    "chr(65 + (h div 676) % 26), chr(65 + (h div 17576) % 26))",
    "qty": "pmod(id * 2654435761 + {salt}, 1000000) + 1",
    "price": "(pmod(id * 40503 + {salt}, 49900) + 100) / CAST(100 AS DOUBLE)",
}


def seed_row(key: int, salt: int) -> tuple:
    h = (key * 97 + salt) % 456976
    code = "".join(chr(65 + (h // 26**i) % 26) for i in range(4))
    qty = (key * 2654435761 + salt) % 1000000 + 1
    price = ((key * 40503 + salt) % 49900 + 100) / 100.0
    return (key, code, qty, price, 0)


class TableModel:
    """The table as the generator expects it, plus every version's
    change set so any version can be rebuilt."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.salt = self.rng.randrange(1 << 30)
        self.rows = {k: seed_row(k, self.salt) for k in range(1, SEED_ROWS + 1)}
        self.seed_rows = dict(self.rows)
        self.live: list[int] = list(self.rows)  # ascending
        self.next_id = SEED_ROWS
        self.version = 1  # the seed write is the log's first commit
        self.changes: list[tuple[dict, set]] = []  # index = version - 2

    def _new_id(self) -> int:
        self.next_id += 1
        self.live.append(self.next_id)
        return self.next_id

    def _put(self, key: int, seq: int) -> tuple:
        rng = self.rng
        code = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(4))
        row = (key, code, rng.randint(1, 10**6), round(rng.uniform(1.0, 500.0), 2), seq)
        self.rows[key] = row
        return row

    def _existing(self, n: int, recent: float) -> list[int]:
        """n distinct live keys: a ``recent`` share from the newest tenth
        of the key range, the rest from anywhere."""
        newest = self.live[-max(1, len(self.live) // 10):]
        n_recent = min(round(n * recent), len(newest))
        keys = set(self.rng.sample(newest, n_recent))
        while len(keys) < n:
            keys.add(self.rng.choice(self.live))
        return sorted(keys)

    def merge(self, n_keys: int, recent: float) -> list[tuple]:
        self.version += 1
        n_new = n_keys // 4
        keys = self._existing(n_keys - n_new, recent)
        keys += [self._new_id() for _ in range(n_new)]
        upserts = {k: self._put(k, self.version) for k in keys}
        self.changes.append((upserts, set()))
        return list(upserts.values())

    def delete(self, n_keys: int) -> list[int]:
        self.version += 1
        older = self.live[: len(self.live) // 2]
        keys = sorted(self.rng.sample(older, n_keys))
        for k in keys:
            del self.rows[k]
        gone = set(keys)
        self.live = [k for k in self.live if k not in gone]
        self.changes.append(({}, gone))
        return keys

    def lookup_key(self) -> int:
        return self._existing(1, 0.5 if self.rng.random() < 0.5 else 0.0)[0]

    def at(self, version: int) -> dict[int, tuple]:
        rows = dict(self.seed_rows)
        for upserts, deletes in self.changes[: version - 1]:
            rows.update(upserts)
            for k in deletes:
                rows.pop(k, None)
        return rows


class LakehouseUpsert:
    name = "lakehouse_upsert"
    op_kind = "merge_point"  # the op behind op_p50_s and op_tail_s
    trace_targets = TRACE_TARGETS

    def __init__(self, run: Run):
        self.run = run
        self.path = str(run.dir / "lakehouse" / "table")
        self.n_blocks = max(1, round(run.seconds / BLOCK_SECONDS))
        self.model = TableModel(run.seed)
        self.plan: list[tuple] = []  # (warm, kind, args, expected)
        self.results: list[tuple] = []  # (kind, args, expected, got)
        self.merge_results: list[dict] = []

    # -- op list ---------------------------------------------------------------

    def _block(self, warm: bool, merges: int) -> None:
        m = self.model
        travel_version = m.version
        for _ in range(merges):
            self.plan.append((warm, "merge_point", m.merge(POINT_KEYS, 0.85), m.version))
            for _ in range(READS_PER_MERGE):
                k = m.lookup_key()
                self.plan.append((warm, "read", k, [m.rows[k]]))
        self.plan.append((warm, "merge_join", m.merge(JOIN_KEYS, 0.0), m.version))
        self.plan.append((warm, "delete", m.delete(DELETE_KEYS), m.version))
        lo = m.rng.choice(m.live)
        hi = lo + TRAVEL_RANGE - 1
        old = m.at(travel_version)
        self.plan.append(
            (warm, "timetravel", (travel_version, lo, hi),
             sorted(v for k, v in old.items() if lo <= k <= hi))
        )

    def setup(self) -> None:
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources.pysink import (
            ManifestSinkDataSource,
        )

        with self.run.phase("inputs"):
            self._block(True, WARMUP_MERGES)
            for _ in range(self.n_blocks):
                self._block(False, MERGES_PER_BLOCK)
        spark = self.run.spark
        spark.dataSource.register(ManifestSinkDataSource)
        salt = self.model.salt
        seed = spark.range(1, SEED_ROWS + 1, 1, SEED_FILES).selectExpr(
            "id",
            f"pmod(id * 97 + {salt}, 456976) AS h",
        ).selectExpr(
            "id",
            f"{SEED_SQL['code']} AS code",
            f"{SEED_SQL['qty'].format(salt=salt)} AS qty",
            f"{SEED_SQL['price'].format(salt=salt)} AS price",
            "CAST(0 AS BIGINT) AS seq",
        )
        with self.run.phase("seed_table"):
            (
                seed.write.format("manifestsink")
                .option("path", self.path)
                .option("format", "parquet")
                .option("statsColumns", "id")
                .option("bloomFilterColumns", "id")
                .mode("overwrite")
                .save()
            )
        with self.run.phase("warm_up"):
            for step in self.plan:
                if step[0]:
                    self._execute(*step)

    def timed(self) -> None:
        for step in self.plan:
            if not step[0]:
                self._execute(*step)

    def _execute(self, warm: bool, kind: str, args, expected) -> None:
        got = self.run.op(kind, lambda: getattr(self, "_" + kind)(args), warm=warm)
        if isinstance(got, dict):  # a commit: its result names the version
            if kind.startswith("merge") and not warm:
                self.merge_results.append({"kind": kind, **got})
            got = got["version"]
        self.results.append((kind, args, expected, got))

    # -- ops -------------------------------------------------------------------

    def _updates(self, rows):
        import pandas as pd

        return self.run.spark.createDataFrame(pd.DataFrame(rows, columns=list(COLUMNS)), SCHEMA)

    def _merge_point(self, rows) -> dict:
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink

        return pysink.merge_into_manifest_sink(self.run.spark, self.path, self._updates(rows), ["id"])

    _merge_join = _merge_point

    def _delete(self, keys) -> dict:
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink

        cond = "id IN (" + ", ".join(str(k) for k in keys) + ")"
        return pysink.delete_from_manifest_sink(
            self.run.spark, self.path, cond, prune={"id": [(k, k) for k in keys]}
        )

    def _read(self, key) -> list[tuple]:
        from pyspark.sql import functions as F

        from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink

        df = pysink.read_manifest_sink(self.run.spark, self.path, prune={"id": [(key, key)]})
        with self.run.tracer.span("pysink.scan"):
            return [tuple(r) for r in df.filter(F.col("id") == key).collect()]

    def _timetravel(self, args) -> list[tuple]:
        from pyspark.sql import functions as F

        from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink

        version, lo, hi = args
        df = pysink.read_manifest_sink(
            self.run.spark, self.path, version=version, prune={"id": (lo, hi)}
        )
        return sorted(tuple(r) for r in df.filter(F.col("id").between(lo, hi)).collect())

    # -- correctness -------------------------------------------------------------

    def check(self) -> list[str]:
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink

        errors = []
        for kind, args, expected, got in self.results:
            if got != expected:
                errors.append(f"{kind} {str(args)[:80]}: got {str(got)[:200]}, expected {str(expected)[:200]}")
                if len(errors) > 5:
                    break
        spark = self.run.spark
        final = self.model.version
        rng = random.Random(self.run.seed)
        for version in (final, rng.randrange(1, final), rng.randrange(1, final)):
            got = sorted(tuple(r) for r in pysink.read_manifest_sink(spark, self.path, version=version).collect())
            want = sorted(self.model.at(version).values())
            if got != want:
                errors.append(
                    f"snapshot at version {version}: {len(got)} rows, expected {len(want)}"
                    f" ({len(set(got) ^ set(want))} differ)"
                )
        return errors

    # -- per-layer metrics ---------------------------------------------------------

    def layer_metrics(self, tracer, events) -> dict[str, float]:
        from fiap_machine_learning_tech_challenge_2_etl_spark.sources import pysink

        def per_op(kind, span):
            return [
                sum(s[2] - s[1] for s in tracer.spans_named(span, (o["t0"], o["t1"])))
                for o in self.run.ops
                if o["kind"] == kind and o["ok"]
            ]

        points = [r for r in self.merge_results if r["kind"] == "merge_point"]
        live = sum(os.path.getsize(f) for f in pysink.resolve_manifest_files(self.path))
        log_files = [
            f for f in os.listdir(self.path) if f.startswith(("_MANIFEST", "_CHECKPOINT"))
        ]
        return {
            "pysink.merge_point_s": median(per_op("merge_point", "pysink.merge")),
            "pysink.merge_join_s": median(per_op("merge_join", "pysink.merge")),
            "pysink.delete_s": median(per_op("delete", "pysink.delete")),
            "pysink.candidate_frac": median(
                r["candidate_files"] / r["total_files"] for r in points if r["total_files"]
            ),
            "pysink.rewrite_precision": median(
                len(r["rewritten_files"]) / r["candidate_files"]
                for r in points
                if r["candidate_files"]
            ),
            "pysink.read_resolve_s": median(per_op("read", "pysink.read")),
            "pysink.read_scan_s": median(per_op("read", "pysink.scan")),
            "pysink.timetravel_s": median(self.run.durations("timetravel")),
            "pysink.log_files": float(len(log_files)),
            "pysink.bytes_per_live_byte": harness.dir_bytes(self.path) / live if live else 0.0,
            "util.local_relation_s": median(per_op("merge_point", "util.local_relation")),
        }

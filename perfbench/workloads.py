"""The three workloads: inputs, the job a user's Spark job would run, and
the gates that check each job's outputs against truths recomputed in set-up.

Truths are recomputed exactly from the generated parquet files with
pyarrow's compute kernels, an engine independent of both build paths.

Each workload is a closed loop: the runner issues one job at a time and the
job's public calls run on ``local[cores]`` (host.cores). Inputs are written JVM-side by
``sources.synth_transcripts`` from the workload seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gates import NSIGMA, Gates, fp_allowance, rank_error, rel_err
from spans import Tracer

FILES_PER_TABLE = 8  # whatever the core count; the files path makes one task per file
ABSENT_BASE = 10**11  # absent keys format above every generated conv id
KLL_QS = np.linspace(0.01, 0.99, 99)
TOP_KEYS = 8  # per-key accuracy gates run on the largest groups


def scan_targets():
    from guava_probably_spark.sketches import SketchSpec

    return [
        ("hll_conv", "conv_id", SketchSpec("hll", {"p": 14})),
        ("bloom_conv", "conv_id", SketchSpec("bloom", {"capacity": 2_000_000, "fpp": 0.01})),
        ("cms_conv", "conv_id", SketchSpec("cms", {"epsilon": 0.0005, "delta": 0.01})),
        ("hll_text", "text", SketchSpec("hll", {"p": 14})),
        ("kll_turn", "turn_idx", SketchSpec("kll", {"k": 200})),
    ]


# merge-order-free kinds: both scan paths must return byte-equal blobs
BYTE_EQUAL = ("hll_conv", "bloom_conv", "cms_conv", "hll_text")


def write_transcripts(spark, path: str, rows: int, seed: int) -> list[str]:
    """Generate the transcript table and return its parquet files."""
    from guava_probably_spark.sources import synth_transcripts

    (
        synth_transcripts(spark, rows, seed=seed)
        .write.option("maxRecordsPerFile", -(-rows // FILES_PER_TABLE))
        .parquet(path)
    )
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def absent_keys(count: int) -> pa.Array:
    return pa.array([f"conv-{ABSENT_BASE + i:012d}" for i in range(count)])


def with_day(df):
    return df.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))


class Ctx:
    """What a job needs: the session, the tracer, the gate tally, and (when
    tracing) the DataFrames the job executed, for plan-metric reads."""

    def __init__(self, spark, tracer, gates: Gates):
        self.spark = spark
        self.tracer = tracer
        self.gates = gates
        self.executed: list[tuple[str, object]] = []

    def call(self, name: str, fn, *args):
        """One public call: spanned, counted as an op, failure re-raised."""
        with self.tracer.span(name):
            try:
                out = fn(*args)
            except Exception as e:
                self.gates.op(name, False, repr(e))
                raise
        self.gates.op(name, True)
        return out

    def collect(self, name: str, make_df) -> pa.Table:
        """Build a DataFrame with a public call and pull its rows to the
        driver as Arrow; the executed DataFrame is kept for plan reads."""
        holder = []

        def run():
            df = make_df()
            holder.append(df)
            return df.toArrow()

        out = self.call(name, run)
        if self.tracer.enabled:
            self.executed.append((name, holder[0]))
        return out


def _counts(table: pa.Table, key: str, value: str = "n") -> dict:
    return dict(zip(table.column(key).to_pylist(), table.column(value).to_pylist()))


def blob_bytes(table: pa.Table) -> int:
    return int(pc.sum(pc.binary_length(table.column("sketch"))).as_py() or 0)


class ScanBuild:
    """One ungrouped multi-sketch build, through the files path and the
    JVM-scan path over the same parquet table."""

    name = "scan_build"

    def prepare(self, spark, data_dir: str, rows: int, seed: int) -> None:
        self.path = os.path.join(data_dir, "scan")
        self.files = write_transcripts(spark, self.path, rows, seed)
        table = pq.read_table(self.path, columns=["conv_id", "text", "turn_idx"])
        conv = table.group_by("conv_id").aggregate([("conv_id", "count")])
        turn = table.group_by("turn_idx").aggregate([("turn_idx", "count")]).sort_by("turn_idx")
        self.truth = {
            "rows": table.num_rows,
            "distinct_text": pc.count_distinct(table["text"]).as_py(),
            "distinct_conv": conv.num_rows,
            "conv_keys": conv["conv_id"].combine_chunks(),
            "conv_counts": conv["conv_id_count"].to_numpy(),
            "turn_values": turn["turn_idx"].to_numpy().astype(np.float64),
            "turn_counts": turn["turn_idx_count"].to_numpy(),
        }
        self.absent = absent_keys(min(rows, 100_000))
        self.rows_per_job = 2 * self.truth["rows"]

    def plant_wrong_truth(self) -> None:
        self.truth["distinct_conv"] = int(self.truth["distinct_conv"] * 1.5) + 10

    def job(self, ctx: Ctx):
        from guava_probably_spark.operators import (
            collect_sketches_files,
            collect_sketches_multi,
        )

        targets = scan_targets()
        files = ctx.call(
            "collect_sketches_files", collect_sketches_files, ctx.spark, self.path, targets
        )
        jvm = ctx.call(
            "collect_sketches_multi",
            lambda: collect_sketches_multi(ctx.spark.read.parquet(self.path), targets),
        )
        return files, jvm

    def check(self, out, gates: Gates) -> int:
        """Gate both paths' sketches; return the bytes of every blob."""
        t = self.truth
        blobs = {}
        for path, res in zip(("files", "jvm"), out):
            for name, _, _ in scan_targets():
                gates.equal(f"{path}.{name}.rows", res[name][1], t["rows"])
                blobs[path, name] = res[name][0].to_bytes()
            hll, bloom, cms = (res[k][0] for k in ("hll_conv", "bloom_conv", "cms_conv"))
            bound = hll.relative_error_bound(NSIGMA)
            gates.within(f"{path}.hll_conv", rel_err(hll.estimate(), t["distinct_conv"]), bound)
            text = res["hll_text"][0]
            gates.within(f"{path}.hll_text", rel_err(text.estimate(), t["distinct_text"]), bound)
            over = cms.estimate(t["conv_keys"]) - t["conv_counts"]
            gates.equal(f"{path}.cms_conv.underestimates", int((over < 0).sum()), 0)
            gates.within(f"{path}.cms_conv", float(over.max()), cms.error_bound())
            misses = int((~bloom.might_contain_batch(t["conv_keys"])).sum())
            gates.equal(f"{path}.bloom_conv.false_negatives", misses, 0)
            fp = float(bloom.might_contain_batch(self.absent).mean())
            gates.within(f"{path}.bloom_conv.fp_rate", fp, fp_allowance(0.01, len(self.absent)))
            kll = res["kll_turn"][0]
            err = rank_error(t["turn_values"], t["turn_counts"], KLL_QS, kll.quantile(KLL_QS))
            gates.within(f"{path}.kll_turn", err, kll.rank_error_bound(NSIGMA))
        for name in BYTE_EQUAL:
            gates.op(f"byte_equal.{name}", blobs["files", name] == blobs["jvm", name])
        return sum(len(b) for b in blobs.values())


class GroupedBuild:
    """Per-key builds: Python-hashed wide values, a value sketch, a JVM
    prehash on a low-cardinality key, and the salted applyInPandas
    fallback on a skewed four-value key."""

    name = "grouped_build"

    def prepare(self, spark, data_dir: str, rows: int, seed: int) -> None:
        self.path = os.path.join(data_dir, "grouped")
        self.files = write_transcripts(spark, self.path, rows, seed)
        self.truth = self.truths(self.path)
        self.rows_per_job = 4 * sum(self.truth["conv_n"].values())

    @staticmethod
    def truths(path: str) -> dict:
        table = pq.read_table(path, columns=["conv_id", "text", "turn_idx", "role", "ts"])
        table = table.append_column("day", pc.strftime(table["ts"], "%Y-%m-%d"))

        def per_key(key, col):
            agg = table.group_by(key).aggregate([(col, "count"), (col, "count_distinct")])
            keys = agg[key].to_pylist()
            return (
                dict(zip(keys, agg[f"{col}_count"].to_pylist())),
                dict(zip(keys, agg[f"{col}_count_distinct"].to_pylist())),
            )

        conv_n, conv_d = per_key("conv_id", "text")
        day_n, day_d = per_key("day", "conv_id")
        role_n, role_d = per_key("role", "conv_id")
        top_keys = sorted(conv_n, key=lambda k: (-conv_n[k], k))[:TOP_KEYS]
        hist = (
            table.filter(pc.is_in(table["conv_id"], pa.array(top_keys)))
            .group_by(["conv_id", "turn_idx"])
            .aggregate([("turn_idx", "count")])
            .sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
            .to_pylist()
        )
        turns = {k: ([], []) for k in top_keys}
        for r in hist:
            turns[r["conv_id"]][0].append(r["turn_idx"])
            turns[r["conv_id"]][1].append(r["turn_idx_count"])
        return {
            "conv_n": conv_n,
            "conv_d": conv_d,
            "day_n": day_n,
            "day_d": day_d,
            "role_n": role_n,
            "role_d": role_d,
            "top_keys": top_keys,
            "top_turns": {
                k: (np.asarray(v, np.float64), np.asarray(c)) for k, (v, c) in turns.items()
            },
        }

    def plant_wrong_truth(self) -> None:
        key = self.truth["top_keys"][0]
        self.truth["conv_n"][key] += 1

    @staticmethod
    def run(ctx: Ctx, path: str) -> dict[str, pa.Table]:
        from guava_probably_spark.operators import (
            build_grouped,
            grouped_hll,
            grouped_kll,
            grouped_theta,
        )
        from guava_probably_spark.sketches import SketchSpec

        df = with_day(ctx.spark.read.parquet(path))
        return {
            "hll_text": ctx.collect(
                "grouped_hll", lambda: grouped_hll(df, "conv_id", "text", p=12)
            ),
            "kll_turn": ctx.collect(
                "grouped_kll", lambda: grouped_kll(df, "conv_id", "turn_idx")
            ),
            "theta_day_prehash": ctx.collect(
                "grouped_theta",
                lambda: grouped_theta(df, "day", "conv_id", prehash=True),
            ),
            "applyinpandas_role": ctx.collect(
                "build_grouped",
                lambda: build_grouped(df, "role", "conv_id", SketchSpec("hll", {"p": 12})),
            ),
        }

    def job(self, ctx: Ctx):
        return self.run(ctx, self.path)

    def check(self, out: dict[str, pa.Table], gates: Gates) -> int:
        from guava_probably_spark.sketches import Sketch

        t = self.truth
        for name, key, want in (
            ("hll_text", "conv_id", t["conv_n"]),
            ("kll_turn", "key", t["conv_n"]),  # grouped_kll names its key column "key"
            ("theta_day_prehash", "day", t["day_n"]),
            ("applyinpandas_role", "role", t["role_n"]),
        ):
            got = _counts(out[name], key)
            bad = sum(1 for k in want.keys() | got.keys() if got.get(k) != want.get(k))
            gates.equal(f"{name}.key_rows_mismatched", bad, 0)

        def sketches(name, key, keys):
            tbl = out[name]
            blobs = dict(zip(tbl.column(key).to_pylist(), tbl.column("sketch").to_pylist()))
            return {k: Sketch.from_bytes(blobs[k]) for k in keys if k in blobs}

        for k, sk in sketches("hll_text", "conv_id", t["top_keys"]).items():
            err = rel_err(sk.estimate(), t["conv_d"][k])
            gates.within(f"hll_text[{k}]", err, sk.relative_error_bound(NSIGMA))
        for k, sk in sketches("kll_turn", "key", t["top_keys"]).items():
            values, counts = t["top_turns"][k]
            err = rank_error(values, counts, KLL_QS, sk.quantile(KLL_QS))
            gates.within(f"kll_turn[{k}]", err, sk.rank_error_bound(NSIGMA))
        top_days = sorted(t["day_n"], key=lambda d: (-t["day_n"][d], d))[:TOP_KEYS]
        for d, sk in sketches("theta_day_prehash", "day", top_days).items():
            err = rel_err(sk.estimate(), t["day_d"][d])
            gates.within(f"theta_day[{d}]", err, sk.relative_error_bound(NSIGMA))
        for r, sk in sketches("applyinpandas_role", "role", list(t["role_d"])).items():
            err = rel_err(sk.estimate(), t["role_d"][r])
            gates.within(f"role_hll[{r}]", err, sk.relative_error_bound(NSIGMA))
        return sum(blob_bytes(tbl) for tbl in out.values())


SHARDS = 64
XOR_FBITS = 8
BLOOM_FPP = 0.01
# The join probe copies its shard's blob onto every probe row before the
# Python UDF (≈ distinct keys / SHARDS × 1.23 bytes per row at fbits 8), and
# that stream spills to spark.local.dir. A 1/8 slice of the probe stream
# keeps rows × blob bytes near 4 MB at the default scale (20k rows × ~210
# B); the per-row bytes are reported as probe.xor_join_bytes_sent_per_row.
JOIN_SLICE_TURNS = 5  # turn_idx < 5: 5 of the 40 turns


class ProbeServe:
    """The read side: a broadcast bloom probe, a broadcast XOR probe and a
    join-path XOR probe over members of the table and absent keys."""

    name = "probe_serve"

    def prepare(self, spark, data_dir: str, rows: int, seed: int) -> None:
        self.path = os.path.join(data_dir, "probe_table")
        self.files = write_transcripts(spark, self.path, rows, seed)
        self.serve = self.build_serving(
            spark, self.path, os.path.join(data_dir, "frozen"), Tracer(False)
        )
        self.truth = self.stream_truth(self.path)
        self.rows_per_job = 2 * sum(self.truth["stream"].values()) + sum(
            self.truth["slice"].values()
        )

    @staticmethod
    def stream(spark, table_path: str, rows: int):
        """Every conv_id row of the table, plus as many absent keys, made
        JVM-side per job. ``in_slice`` marks the join slice: turns 0-4 of
        the members and every eighth absent key, 1/8 of each side."""
        members = spark.read.parquet(table_path).select(
            "conv_id",
            F.lit(True).alias("member"),
            (F.col("turn_idx") < JOIN_SLICE_TURNS).alias("in_slice"),
        )
        absent = spark.range(rows).select(
            F.format_string("conv-%012d", F.col("id") + F.lit(ABSENT_BASE)).alias("conv_id"),
            F.lit(False).alias("member"),
            (F.col("id") % 8 == 0).alias("in_slice"),
        )
        return members.unionByName(absent)

    @staticmethod
    def stream_truth(table_path: str) -> dict:
        turn = pq.read_table(table_path, columns=["turn_idx"])["turn_idx"].to_numpy()
        rows = len(turn)
        return {
            "rows": rows,
            "stream": {True: rows, False: rows},
            "slice": {True: int((turn < JOIN_SLICE_TURNS).sum()), False: (rows + 7) // 8},
        }

    @staticmethod
    def build_serving(spark, table_path: str, frozen_path: str, tracer) -> dict:
        """Bloom blob (collect_sketch) and the frozen XOR table, stored as
        parquet the way a serving tier would keep it."""
        from guava_probably_spark.operators import collect_sketch, freeze_filter
        from guava_probably_spark.sketches import SketchSpec

        table = spark.read.parquet(table_path)
        with tracer.span("collect_sketch.bloom"):
            bloom, _, _ = collect_sketch(
                table, "conv_id", SketchSpec("bloom", {"capacity": 2_000_000, "fpp": BLOOM_FPP})
            )
        with tracer.span("freeze_filter"):
            freeze_filter(table, "conv_id", fbits=XOR_FBITS, shards=SHARDS).write.parquet(
                frozen_path
            )
        frozen_bytes = blob_bytes(pq.read_table(frozen_path, columns=["sketch"]))
        blob = bloom.to_bytes()
        return {
            "bloom_blob": blob,
            "frozen": spark.read.parquet(frozen_path),
            "frozen_bytes": frozen_bytes,
            "result_bytes": len(blob) + frozen_bytes,
        }

    def plant_wrong_truth(self) -> None:
        self.truth["stream"][True] += 1

    @staticmethod
    def run(ctx: Ctx, table_path: str, rows: int, serve: dict) -> dict[str, pa.Table]:
        from guava_probably_spark.functions import might_contain_udf
        from guava_probably_spark.operators import frozen_probe_join, frozen_probe_udf

        spark = ctx.spark
        stream = ProbeServe.stream(spark, table_path, rows)
        bloom = ctx.call("might_contain_udf", might_contain_udf, spark, serve["bloom_blob"])
        xor = ctx.call("frozen_probe_udf", frozen_probe_udf, spark, serve["frozen"], SHARDS)
        return {
            "bloom_udf": ctx.collect(
                "probe.bloom_udf",
                lambda: stream.groupBy(
                    "member", bloom(F.col("conv_id")).alias("hit")
                ).count(),
            ),
            "xor_udf": ctx.collect(
                "probe.xor_udf",
                lambda: stream.groupBy(
                    "member", xor(F.xxhash64("conv_id")).alias("hit")
                ).count(),
            ),
            "xor_join": ctx.collect(
                "frozen_probe_join",
                lambda: frozen_probe_join(
                    stream.where("in_slice"), "conv_id", serve["frozen"], SHARDS
                )
                .groupBy("member")
                .count(),
            ),
        }

    def job(self, ctx: Ctx):
        return self.run(ctx, self.path, self.truth["rows"], self.serve)

    def check(self, out: dict[str, pa.Table], gates: Gates) -> int:
        t = self.truth
        absent = t["stream"][False]
        for name, fpp in (("bloom_udf", BLOOM_FPP), ("xor_udf", 2.0**-XOR_FBITS)):
            cells = {
                (r["member"], r["hit"]): r["count"] for r in out[name].to_pylist()
            }
            gates.equal(f"{name}.false_negatives", cells.get((True, False), 0), 0)
            gates.equal(
                f"{name}.rows",
                sum(cells.values()),
                sum(t["stream"].values()),
            )
            gates.within(
                f"{name}.fp_rate",
                cells.get((False, True), 0) / absent,
                fp_allowance(fpp, absent),
            )
        kept = _counts(out["xor_join"], "member", "count")
        gates.equal("xor_join.members_kept", kept.get(True, 0), t["slice"][True])
        slice_absent = t["slice"][False]
        gates.within(
            "xor_join.fp_rate",
            kept.get(False, 0) / slice_absent,
            fp_allowance(2.0**-XOR_FBITS, slice_absent),
        )
        return self.serve["result_bytes"]


WORKLOADS = {w.name: w for w in (ScanBuild, GroupedBuild, ProbeServe)}

# input rows of each workload's table at the default scale
DEFAULT_ROWS = {"scan_build": 120_000, "grouped_build": 60_000, "probe_serve": 60_000}

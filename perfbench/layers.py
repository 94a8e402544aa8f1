"""The traced run's layer suite: a single-thread kernel suite with no Spark,
and the decompositions that time each layer's public functions on Spark.

Every traced run reports every layer metric, measured on the workload's own
generated table, so a layer that one workload leaves idle is still measured
beside the ones it loads. Each Spark-side step runs once untimed first, so
no layer is timed on its first, cold use in the process.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa

from spans import Tracer, layer_totals, plan_nodes
from workloads import (
    SHARDS,
    Ctx,
    XOR_FBITS,
    GroupedBuild,
    ProbeServe,
    blob_bytes,
    scan_targets,
)

CHUNK = 16384  # the files path's kernel chunk (operators.build)
KERNEL_REPS = 3


def _best_ns(fn, reps: int = KERNEL_REPS) -> int:
    """Fastest of ``reps`` timings of ``fn()``: single-thread kernels have
    no queueing, so the minimum is the kernel's cost without interference."""
    best = None
    for _ in range(reps):
        t0 = time.perf_counter_ns()
        fn()
        dt = time.perf_counter_ns() - t0
        best = dt if best is None else min(best, dt)
    return best


def _column(batch: pa.RecordBatch, name: str) -> pa.Array:
    return batch.column(batch.schema.get_field_index(name))


def kernel_chain(path: str, targets) -> dict:
    """One files-path partial in one thread: read the file with pyarrow,
    hash each column once per 16k chunk, ingest every target, serialize."""
    import pyarrow.parquet as pq

    from guava_probably_spark.sketches.base import FUNNEL_NONE, hash_column

    cols = list(dict.fromkeys(c for _, c, _ in targets))
    sks = {name: spec.create() for name, _, spec in targets}
    table = pq.read_table(path, columns=cols, use_threads=False)
    for rb in table.to_batches(max_chunksize=CHUNK):
        hashed = {}
        for name, c, _ in targets:
            sk = sks[name]
            column = _column(rb, c)
            if sk.funnel == FUNNEL_NONE:
                sk.update(column)
                continue
            if c not in hashed:
                hashed[c] = hash_column(column, sk.funnel)[1:]
            sk.ingest_hashes(*hashed[c])
    return {name: sk.to_bytes() for name, sk in sks.items()}


def kernel_suite(files: list[str]) -> dict[str, float]:
    """Hash, ingest, blob and probe costs per family on 16k-row batches
    sliced from the workload's first file (a files-path partial's shape),
    plus the read and the full chain over every file."""
    import pyarrow.parquet as pq

    from guava_probably_spark.sketches import Sketch, SketchSpec, XorFilter
    from guava_probably_spark.sketches.base import FUNNEL_PREHASHED, hash_column

    m: dict[str, float] = {}
    targets = scan_targets()
    cols = ["conv_id", "text", "turn_idx"]

    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    read_ns = _best_ns(
        lambda: [pq.read_table(f, columns=cols, use_threads=False) for f in files], 1
    )
    m["scan.read_ns_per_row"] = read_ns / rows
    chain_ns = _best_ns(lambda: [kernel_chain(f, targets) for f in files], 1)
    m["build.kernel_rows_per_s"] = rows / (chain_ns / 1e9)

    batches = pq.read_table(files[0], columns=cols, use_threads=False).to_batches(
        max_chunksize=CHUNK
    )
    conv = [_column(b, "conv_id") for b in batches]
    text = [_column(b, "text") for b in batches]
    turn = [_column(b, "turn_idx") for b in batches]
    n = sum(len(c) for c in conv)
    for label, cols_ in (("conv", conv), ("text", text)):
        ns = _best_ns(lambda: [hash_column(c) for c in cols_])
        m[f"hash.murmur3_{label}_ns_per_item"] = ns / n
    hashes = [hash_column(c)[1:] for c in conv]

    specs = {
        "hll": SketchSpec("hll", {"p": 14}),
        "bloom": SketchSpec("bloom", {"capacity": 2_000_000, "fpp": 0.01}),
        "cms": SketchSpec("cms", {"epsilon": 0.0005, "delta": 0.01}),
        "kll": SketchSpec("kll", {"k": 200}),
    }
    for kind, spec in specs.items():
        built = []

        def ingest():
            sk = spec.create()
            if kind == "kll":
                for c in turn:
                    sk.update(c)
            else:
                for h1, h2 in hashes:
                    sk.ingest_hashes(h1, h2)
            built.append(sk)

        m[f"sketch.{kind}.ingest_ns_per_item"] = _best_ns(ingest) / n
        sk = built[-1]
        blob = sk.to_bytes()
        m[f"sketch.{kind}.blob_bytes"] = len(blob)
        m[f"sketch.{kind}.to_bytes_us"] = _best_ns(sk.to_bytes, 5) / 1e3
        m[f"sketch.{kind}.from_bytes_us"] = _best_ns(lambda: Sketch.from_bytes(blob), 5) / 1e3
        pairs = [(Sketch.from_bytes(blob), Sketch.from_bytes(blob)) for _ in range(5)]
        m[f"sketch.{kind}.merge_us"] = min(
            _best_ns(lambda a=a, b=b: a.merge(b), 1) for a, b in pairs
        ) / 1e3
        if kind == "bloom":
            ns = _best_ns(lambda: [sk.contains_hashes(h1, h2) for h1, h2 in hashes])
            m["sketch.bloom.probe_ns_per_item"] = ns / n

    keys = np.unique(np.concatenate([h1 for h1, _ in hashes]))
    xor_holder = []

    def xor_build():
        xor_holder.append(
            XorFilter.build_from_hashes(keys, fbits=XOR_FBITS, funnel=FUNNEL_PREHASHED)
        )

    m["sketch.xorf.build_ns_per_key"] = _best_ns(xor_build) / len(keys)
    xor = xor_holder[-1]
    ns = _best_ns(lambda: [xor.contains_hashes(h1, h1) for h1, _ in hashes])
    m["sketch.xorf.probe_ns_per_item"] = ns / n
    return m


def untimed(ctx) -> Ctx:
    """A context for warm-up calls: no spans, no plan reads, same gates.
    A layer the workload itself does not run would otherwise be timed on
    its first, cold use in the process."""
    return Ctx(ctx.spark, Tracer(False), ctx.gates)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def build_decomposition(
    ctx, path: str, cores: int, kernel_rps: float
) -> tuple[dict, list]:
    """The files path split into its partials collect and the driver fold,
    the JVM-scan path's partials collect, and one whole files-path call to
    compare against. Returns metrics and the executed partial DataFrames."""
    from guava_probably_spark.operators import (
        build_partials_files_multi,
        build_partials_multi,
        collect_sketches_files,
        list_input_files,
    )
    from guava_probably_spark.operators.build import fold_sketch_rows

    spark, tr = ctx.spark, ctx.tracer
    targets = scan_targets()
    collect_sketches_files(spark, path, targets)  # warm: the workload may not run it
    ctx.call("collect_sketches_files", collect_sketches_files, spark, path, targets)
    with tr.span("build.files_partials"):
        files = list_input_files(spark, path)
        files_df = build_partials_files_multi(spark, files, targets)
        rows = files_df.collect()
    with tr.span("build.driver_fold"):
        grouped: dict[str, list] = {}
        for r in rows:
            grouped.setdefault(r.name, []).append((r.sketch, r.n, r.overflow))
        for part in grouped.values():
            fold_sketch_rows(part)
    with tr.span("build.jvm_partials"):
        jvm_df = build_partials_multi(spark.read.parquet(path), targets)
        jvm_df.collect()
    part_rows = [r.n for r in rows if r.name == targets[0][0]]
    files_s = _median(tr.durations("collect_sketches_files"))
    rows_in = sum(part_rows)
    m = {
        "build.files_path_s": files_s,
        "build.files_partials_s": tr.durations("build.files_partials")[-1],
        "build.driver_fold_s": tr.durations("build.driver_fold")[-1],
        "build.jvm_partials_s": tr.durations("build.jvm_partials")[-1],
        "build.partials": len(rows),
        "build.partial_bytes": sum(len(r.sketch) for r in rows),
        "build.partial_rows_max_over_median": max(part_rows) / _median(part_rows),
        "build.parallel_eff": (rows_in / files_s) / (cores * kernel_rps),
    }
    return m, [("build_partials_files_multi", files_df), ("build_partials_multi", jvm_df)]


def grouped_calls(ctx, path: str) -> dict:
    """The four grouped calls, once untimed to warm them, then timed and
    gated like the grouped_build workload's job."""
    GroupedBuild.run(untimed(ctx), path)
    out = GroupedBuild.run(ctx, path)
    grouped = GroupedBuild()
    grouped.truth = GroupedBuild.truths(path)
    grouped.check(out, ctx.gates)
    tr = ctx.tracer
    m = {
        f"grouped.{name}_s": tr.durations(call)[-1]
        for name, call in (
            ("hll_text", "grouped_hll"),
            ("kll_turn", "grouped_kll"),
            ("theta_day_prehash", "grouped_theta"),
            ("applyinpandas_role", "build_grouped"),
        )
    }
    m["grouped.keys"] = sum(t.num_rows for t in out.values())
    m["grouped.blob_bytes"] = sum(blob_bytes(t) for t in out.values())
    return m


def freeze_and_probe(ctx, table_path: str, data_dir: str) -> dict:
    """The serving builds and one pass of the three probe paths over this
    table's probe stream, each call timed by its span."""
    tr = ctx.tracer
    truth = ProbeServe.stream_truth(table_path)
    warm = untimed(ctx)
    serve = ProbeServe.build_serving(
        ctx.spark, table_path, os.path.join(data_dir, "suite_frozen_warm"), warm.tracer
    )
    ProbeServe.run(warm, table_path, truth["rows"], serve)
    serve = ProbeServe.build_serving(
        ctx.spark, table_path, os.path.join(data_dir, "suite_frozen"), tr
    )
    n_before = len(ctx.executed)
    ProbeServe.run(ctx, table_path, truth["rows"], serve)
    executed = dict(ctx.executed[n_before:])
    del ctx.executed[n_before:]
    stream_rows = sum(truth["stream"].values())
    slice_rows = sum(truth["slice"].values())
    join_sent = layer_totals(plan_nodes(executed["frozen_probe_join"]))["arrow.bytes_sent"]
    return {
        "freeze.build_s": tr.durations("freeze_filter")[-1],
        "freeze.blob_bytes": serve["frozen_bytes"],
        "probe.bloom_udf_rows_per_s": stream_rows / tr.durations("probe.bloom_udf")[-1],
        "probe.xor_udf_rows_per_s": stream_rows / tr.durations("probe.xor_udf")[-1],
        "probe.xor_join_rows_per_s": slice_rows / tr.durations("frozen_probe_join")[-1],
        "probe.xor_join_bytes_sent_per_row": join_sent / slice_rows,
        "probe.join_slice_rows": slice_rows,
        "probe.shard_blob_bytes_mean": serve["frozen_bytes"] / SHARDS,
    }

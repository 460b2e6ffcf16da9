"""The three workloads and the per-layer ledger of a traced run.

A workload is an input spec plus one *operation*, run in a closed loop:
the next operation starts only after the previous one has returned and
its output has been checked.  An operation returns a record with its
timings, the documents it delivered, the CPU seconds and peak RSS of
the process tree inside its timed windows, and the problems its checks
found (an empty list means the operation succeeded).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import bench_inputs as bi
from observe import SparkLedger, median

N_BUCKETS = 16
WAVE_SIZE = 4
LEDGER_IMAGES = 96


class Ctx:
    """Everything one run shares: the session, the tracer, the process
    tree sampler, the checker process and the run's work directory."""

    def __init__(self, spark, tracer, tree, checker, run_dir, nproc, seed,
                 pins):
        self.spark = spark
        self.tracer = tracer
        self.tree = tree
        self.checker = checker
        self.run_dir = run_dir
        self.nproc = nproc
        self.seed = seed
        self.pins = pins
        self.ledger = SparkLedger(spark)
        self.first_digests: dict[str, str] = {}
        self._n = 0

    def fresh(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.run_dir, f"{self._n:03d}-{name}")
        os.makedirs(path)
        return path

    def check(self, fn, *args):
        return self.checker.submit(fn, *args).result()

    def same_as_pinned(self, key: str, digests: dict) -> list[str]:
        """Digests must match the pinned values for this seed when the
        pin file has them, and the first operation of the run always."""
        problems = []
        for name, value in digests.items():
            pinned = self.pins.get(key, {}).get(name)
            if pinned is not None and value != pinned:
                problems.append(f"{name} digest {value} != pinned {pinned}")
            first = self.first_digests.setdefault(f"{key}/{name}", value)
            if value != first:
                problems.append(f"{name} digest changed within the run")
        return problems


def timed(ctx: Ctx, rec: dict, name: str, fn):
    """Run ``fn`` inside a span and a CPU/RSS window; add its wall time
    to ``rec[name]`` and to the operation's total ``rec['op_s']``."""
    with ctx.tracer.span(name), ctx.tree.window(rec):
        t0 = time.perf_counter()
        result = fn()
        dt = time.perf_counter() - t0
    rec[name] = rec.get(name, 0.0) + dt
    rec["op_s"] = rec.get("op_s", 0.0) + dt
    return result


def extract_pass(ctx: Ctx, docs: str, out: str, sink: str = "parquet"):
    """read parquet → extract_documents(order_by='meta') → sink."""
    from ocr_spark.operators.extract import extract_documents

    df = extract_documents(ctx.spark.read.parquet(docs), order_by="meta")
    if sink == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        df.write.mode("overwrite").parquet(out)


class Workload:
    name = ""
    kind = "docs"
    size = 0
    params: dict = {}
    # The second operation of a run is still about 10% slower than the
    # later ones, so set-up ends after two.
    warmup_ops = 2

    def __init__(self, size: int | None = None):
        if size:
            self.size = size

    def inputs(self, work: str, seed: int, checker):
        """Build (or find in the cache) this workload's inputs, in the
        checker process."""
        self.inp = checker.submit(bi.ensure, work, self.kind, seed, self.size,
                                  **self.params).result()
        self.docs = self.inp.sub("docs")
        return self.inp

    def op(self, ctx: Ctx, k: int, corrupt: bool) -> dict:
        raise NotImplementedError

    def pin_key(self, ctx: Ctx) -> str:
        return f"{self.name}/n{self.size}/s{ctx.seed}"


class ExtractNorth(Workload):
    name = "extract_north"
    size = 10_000

    def op(self, ctx, k, corrupt):
        rec = {"cpu_s": 0.0, "peak_rss_mb": 0.0}
        out = os.path.join(ctx.fresh("north"), "out")
        timed(ctx, rec, "extract.pass", lambda: extract_pass(ctx, self.docs,
                                                             out))
        rec["wall_s"] = rec["extract.pass"]
        rec["docs"] = self.inp.ref["n_docs"]
        if corrupt:
            bi.drop_last_row(out)
        problems, digests = ctx.check(bi.check_extract, out, self.inp.ref)
        rec["problems"] = problems + ctx.same_as_pinned(self.pin_key(ctx),
                                                        digests)
        rec["digests"] = digests
        shutil.rmtree(os.path.dirname(out))
        return rec


def job_cycle(ctx: Ctx, inp, k: int, corrupt: bool, detail: bool) -> dict:
    """fresh copy of the table → run_extraction in waves → re-run on the
    committed manifest → apply_edits of an edit batch.  With ``detail``
    the jobs and edits layers are also timed one call at a time."""
    from ocr_spark.jobs.edits import append_edits, apply_edits
    from ocr_spark.jobs.extract_job import (commit_manifest, read_documents,
                                            run_extraction)

    spark = ctx.spark
    cyc = ctx.fresh("job")
    src = os.path.join(cyc, "documents")
    out, mani = os.path.join(cyc, "derived"), os.path.join(cyc, "manifest")
    shutil.copytree(inp.sub("docs"), src)
    rec = {"cpu_s": 0.0, "peak_rss_mb": 0.0, "problems": []}
    ledger = ctx.ledger if detail else None

    if ledger:
        ledger.mark()
    r1 = timed(ctx, rec, "run_extraction.s", lambda: run_extraction(
        spark, src, out, mani, f"run-{k}", n_buckets=N_BUCKETS,
        wave_size=WAVE_SIZE))
    waves = -(-N_BUCKETS // WAVE_SIZE)
    rec["waves"] = waves
    if ledger:
        rec["spark_jobs_per_wave"] = ledger.jobs_since() / waves
    rec["docs"] = r1["doc_count"]
    rec["wall_s"] = rec["run_extraction.s"]
    # the output itself is checked once, after the edits: buckets the edit
    # batch does not touch still hold what run_extraction wrote
    rec["problems"] += ctx.check(bi.check_manifest, mani, f"run-{k}",
                                 N_BUCKETS, inp.ref)

    r2 = timed(ctx, rec, "resume_noop_s", lambda: run_extraction(
        spark, src, out, mani, f"resume-{k}", n_buckets=N_BUCKETS,
        wave_size=WAVE_SIZE))
    if (r2["processed"], r2["skipped"]) != (0, N_BUCKETS):
        rec["problems"].append(f"resume redid work: {r2}")

    updates = spark.read.parquet(inp.sub("edits.parquet"))
    r3 = timed(ctx, rec, "edit_turnaround_s", lambda: apply_edits(
        spark, updates, src, out, mani, f"edit-{k}", n_buckets=N_BUCKETS,
        wave_size=N_BUCKETS))
    rec["touched_buckets"] = len(r3["touched_buckets"])
    if r3["edited_docs"] != len(inp.ref["edited_ids"]):
        rec["problems"].append(f"apply_edits edited {r3['edited_docs']}")
    if corrupt:
        bi.drop_last_row(out)
    after = dict(inp.ref["after_edits"])
    problems, digests = ctx.check(bi.check_extract, out, after)
    rec["problems"] += [f"apply_edits: {p}" for p in problems]
    rec["digests"] = digests

    if detail:
        rederived = sum(
            r["doc_count"] for r in spark.read.parquet(mani)
            .where(f"run_id = 'edit-{k}'").select("doc_count").collect())
        rec["edit.useful_ratio"] = r3["edited_docs"] / max(rederived, 1)
        timed(ctx, rec, "commit_manifest.s", lambda: commit_manifest(
            spark, out, os.path.join(cyc, "manifest_probe"), "probe",
            list(range(N_BUCKETS)), 0, "probe"))
        timed(ctx, rec, "append_edits.s", lambda: append_edits(updates, src))
        timed(ctx, rec, "read_documents_overlay.s", lambda: read_documents(
            spark, src).write.format("noop").mode("overwrite").save())
    shutil.rmtree(cyc)
    return rec


class JobLifecycle(Workload):
    name = "job_lifecycle"
    size = 4_000
    # one cycle already runs every job and edit path; a second warm-up
    # cycle would cost ~6 s of every run
    warmup_ops = 1

    def op(self, ctx, k, corrupt):
        rec = job_cycle(ctx, self.inp, k, corrupt, detail=ctx.tracer.enabled)
        rec["problems"] += ctx.same_as_pinned(self.pin_key(ctx),
                                              rec["digests"])
        return rec


class MediaDecode(Workload):
    name = "media_decode"
    kind = "media"
    size = 4_000
    params = {"mdocs": 800}

    def op(self, ctx, k, corrupt):
        from ocr_spark.operators.multimodal import extract_media_features

        rec = {"cpu_s": 0.0, "peak_rss_mb": 0.0}
        out = os.path.join(ctx.fresh("media"), "out")
        timed(ctx, rec, "media.pass", lambda: extract_media_features(
            ctx.spark.read.parquet(self.inp.sub("media"))
        ).write.mode("overwrite").parquet(out))
        rec["wall_s"] = rec["media.pass"]
        rec["docs"] = self.inp.ref["media_docs"]
        rec["images"] = len(self.inp.ref["media"])
        if corrupt:
            bi.drop_last_row(out)
        problems, digests = ctx.check(bi.check_media, out, self.inp.ref)
        rec["problems"] = problems + ctx.same_as_pinned(self.pin_key(ctx),
                                                        digests)
        rec["digests"] = digests
        shutil.rmtree(os.path.dirname(out))
        return rec


WORKLOADS = {w.name: w for w in (ExtractNorth, JobLifecycle, MediaDecode)}


# ---------------------------------------------------------------------------
# the per-layer ledger (traced runs only)
# ---------------------------------------------------------------------------

JOB_LAYER = ("run_extraction.s", "waves", "commit_manifest.s",
             "resume_noop_s", "spark_jobs_per_wave", "append_edits.s",
             "read_documents_overlay.s", "touched_buckets",
             "edit.useful_ratio", "edit_turnaround_s")


def _kernel(ctx: Ctx, docs: str) -> dict:
    """The extraction kernel in this process, single-threaded, over the
    same Arrow batches Spark would hand it (meta.box pruned)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from ocr_spark.operators.extract import _extract_batch
    from ocr_spark.session import ARROW_MAX_RECORDS_PER_BATCH

    table = ds.dataset(docs).to_table()
    meta = table.column("meta").combine_chunks()
    flat = meta.flatten()
    keep = [f.name for f in flat.type if f.name != "box"]
    slim = pa.ListArray.from_arrays(meta.offsets, pa.StructArray.from_arrays(
        [flat.field(n) for n in keep], names=keep))
    table = table.set_column(table.schema.get_field_index("meta"), "meta",
                             slim)
    batches = table.to_batches(max_chunksize=ARROW_MAX_RECORDS_PER_BATCH)
    out = {}
    for wix, name in ((True, "extract.kernel_s"),
                      (False, "kernel_no_word_index_s")):
        with ctx.tracer.span(name):
            t0 = time.perf_counter()
            for b in batches:
                _extract_batch(b, "meta", None, wix)
            out[name] = time.perf_counter() - t0
    no_wix = out.pop("kernel_no_word_index_s")
    out["extract.word_index_s"] = out["extract.kernel_s"] - no_wix
    out["extract.kernel_docs_per_s_1t"] = table.num_rows / out[
        "extract.kernel_s"]
    return out


def _codecs(ctx: Ctx, wl: Workload) -> dict:
    """Per-format decode cost through imagecodec.decode_image, on the
    workload's media table or a small seeded sample of its media refs."""
    import pyarrow.parquet as pq

    from ocr_spark.sources.imagecodec import decode_image, sniff_decode

    if wl.kind == "media":
        rows = pq.read_table(wl.inp.sub("media")).to_pylist()
    else:
        rows = bi.media_rows(pq.read_table(wl.docs), ctx.seed,
                             LEDGER_IMAGES // 2)
    by_fmt: dict[str, list[bytes]] = {}
    for r in rows:
        fmt = r["mime"].split("/")[1]
        if len(by_fmt.setdefault(fmt, [])) < LEDGER_IMAGES // 4:
            by_fmt[fmt].append(r["content"])
    out, real, tried = {}, 0, 0
    for fmt in bi.FORMATS:
        blobs = by_fmt.get(fmt, [])
        with ctx.tracer.span(f"codec.{fmt}"):
            t0 = time.perf_counter()
            for b in blobs:
                decode_image(b)
            dt = time.perf_counter() - t0
        mb = sum(map(len, blobs)) / 1e6
        out[f"codec.{fmt}.ms_per_mb"] = dt * 1000 / mb if mb else 0.0
        real += sum(sniff_decode(b) is not None for b in blobs)
        tried += len(blobs)
    out["media.real_decode_share"] = real / tried if tried else 0.0
    if wl.kind != "media":
        import pyarrow as pa

        from ocr_spark.operators.multimodal import extract_media_features

        sample = os.path.join(ctx.fresh("media_sample"), "media")
        pq.write_table(pa.table({k: [r[k] for r in rows] for k in
                                 ("doc_id", "media_ref", "content", "mime")}),
                       sample + ".parquet")
        with ctx.tracer.span("media.pass"):
            t0 = time.perf_counter()
            extract_media_features(ctx.spark.read.parquet(
                sample + ".parquet")).write.format("noop").mode(
                "overwrite").save()
            out["images_per_s"] = len(rows) / (time.perf_counter() - t0)
    return out


def _spark_layers(ctx: Ctx, docs: str) -> dict:
    """Scan, Arrow boundary, write and task metrics from Spark itself:
    a noop-sink scan, a noop-sink extraction and a parquet extraction,
    each run twice with the second run kept."""
    led = ctx.ledger
    out = {}
    for _ in range(2):
        led.mark()
        with ctx.tracer.span("scan.noop"):
            t0 = time.perf_counter()
            ctx.spark.read.parquet(docs).write.format("noop").mode(
                "overwrite").save()
            out["scan.s"] = time.perf_counter() - t0
        out["scan.bytes"] = led.summed("Scan parquet", "size of files read")
        out["scan.time_ms"] = led.summed("Scan parquet", "scan time")
    for _ in range(2):
        led.mark()
        with ctx.tracer.span("extract.noop"):
            t0 = time.perf_counter()
            extract_pass(ctx, docs, "", sink="noop")
            out["extract.noop_s"] = time.perf_counter() - t0
        out["bridge.bytes_to_py"] = led.summed(
            "MapInArrow", "data sent to Python workers")
        out["bridge.bytes_from_py"] = led.summed(
            "MapInArrow", "data returned from Python workers")
        out["bridge.python_ms"] = led.summed(
            "MapInArrow", "time to run Python workers")
    for _ in range(2):
        target = os.path.join(ctx.fresh("ledger_pass"), "out")
        led.mark()
        with ctx.tracer.span("extract.pass"):
            t0 = time.perf_counter()
            extract_pass(ctx, docs, target)
            wall = time.perf_counter() - t0
        out["write.s"] = wall - out["extract.noop_s"]
        out["write.bytes"] = led.summed("Execute InsertIntoHadoopFsRelation",
                                        "written output")
        out["write.files"] = led.summed("Execute InsertIntoHadoopFsRelation",
                                        "number of written files")
        out.update(led.task_stats(wall, ctx.nproc))
        out["pass_docs_per_s"] = ctx.n_docs / wall
        shutil.rmtree(os.path.dirname(target))
    return out


def ledger(ctx: Ctx, wl: Workload, ops: list[dict],
           extra_ops: list[dict]) -> dict:
    """Every per-layer metric for this workload's inputs.  Layers the
    workload's own operation exercises come from its traced operations;
    the others are measured here with one call each.  A checked
    operation the ledger runs itself is appended to ``extra_ops``."""
    ctx.n_docs = wl.inp.ref["n_docs"]
    out = _spark_layers(ctx, wl.docs)
    out.update(_kernel(ctx, wl.docs))
    if wl.name == JobLifecycle.name:
        for k in JOB_LAYER:
            out[k] = median([o[k] for o in ops if k in o])
    else:
        rec = job_cycle(ctx, wl.inp, 0, False, detail=True)
        extra_ops.append(rec)
        out.update({k: rec[k] for k in JOB_LAYER})
    out.update(_codecs(ctx, wl))
    if wl.name == MediaDecode.name:
        out["images_per_s"] = median(
            [o["images"] / o["wall_s"] for o in ops])
    return out


def single_core_docs_per_s(ctx: Ctx, docs: str, start_session) -> float:
    """The extraction pass on a fresh ``local[1]`` session: one warm-up
    over two part files, then one timed pass over the whole table."""
    ctx.spark.stop()
    ctx.spark = start_session(1)
    files = sorted(glob.glob(os.path.join(docs, "*.parquet")))[:2]
    from ocr_spark.operators.extract import extract_documents

    extract_documents(ctx.spark.read.parquet(*files), order_by="meta").write \
        .format("noop").mode("overwrite").save()
    target = os.path.join(ctx.fresh("local1"), "out")
    with ctx.tracer.span("extract.pass.local1"):
        t0 = time.perf_counter()
        extract_pass(ctx, docs, target)
        wall = time.perf_counter() - t0
    return ctx.n_docs / wall

"""The workloads, each driven through the engine's public entry points.

Every workload has the same life cycle, called by `run.py`:

- `prepare()`   make the inputs from the seed (counted in `setup_s`);
- `warmup()`    untimed passes, so JIT, code generation and Python worker
                start-up are paid before timing (counted in `setup_s`);
- `restore()`   put every piece of mutable state back to its starting
                point (outside the timed region, before every pass);
- `run_pass()`  one timed pass; returns a `Pass`;
- `check()`     correctness of the last pass, outside the timed region:
                returns the number of docs that failed, with details in
                `detail` (reported in the diagnostics line);
- `probes()`    extra per-layer measurements for the traced run; for
                `stream_ingest` these include incremental dedup rounds over
                the batches it committed.

Inputs are the fixture corpus (`ocr_toolkit_spark.fixtures`) with all of
its slices, hostile and giant documents included.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_toolkit_spark import fixtures
from ocr_toolkit_spark import io as tio
from ocr_toolkit_spark.operators.extract import extract_spans
from ocr_toolkit_spark.operators.incremental import dedup_extracted_changes
from ocr_toolkit_spark.pipeline import (
    DEFAULT_BUCKETS,
    run_extraction,
    salt_oversized,
    with_partition_id,
)
from ocr_toolkit_spark.streaming.stream_extract import stream_extract_committed

from . import checks
from .metrics import SECTIONS, STREAM_PHASES
from .tracer import Tracer, median

# the `job.py --dedup-delta` defaults
DEDUP_CFG = dict(k=5, n_hashes=32, bands=8, threshold=0.5, max_bucket=256)
# tracer units of the dedup rounds in stream_ingest's traced run (a pass's
# unit is its index)
DEDUP_UNITS = 1_000_000
# span count from which a fixture doc belongs to the giant ("skewed")
# slice: it draws 2k-8k spans, every other slice stays under 100
GIANT_SPANS = 2000
# extraction output is compared with the oracle on this many docs (a seeded
# sample); presence and uniqueness are checked on every doc
CHECK_SAMPLE = 1000
# noop-sink probes of extract_batch's plan per traced run (median reported)
PROBE_RUNS = 3
# history files of stream_ingest streamed after a restart, in set-up
RESUMED_HISTORY = 2
# Per-layer probes of stream_ingest's traced run, sized to keep that run
# well inside 180 s: noop-sink probes of the first PROBE_FILES timed files,
# and one traced dedup round per timed micro-batch, from the first, for
# DEDUP_ROUNDS of them, against a signature state of the last
# STATE_BATCHES history batches (300 docs).
PROBE_FILES = 4
DEDUP_ROUNDS = 2
STATE_BATCHES = 4


@dataclass
class Pass:
    index: int  # also the tracer unit of the pass's spans
    docs: int
    seconds: float
    batch_ms: list[float]
    out_files: int = 0
    out_bytes: int = 0
    # parquet bytes per doc of the whole output table
    table_bytes_per_doc: float = 0.0
    snapshot_entries: int = 0
    ok: bool = True
    steal_pct: float = 0.0
    cpu_s: float = 0.0
    # host slowdown around the pass (`reference.py`): the geometric mean of
    # the measurements before and after it, kept in `ref`
    slowdown: float = 1.0
    ref: list[dict] | None = None


class Workload:
    docs_per_pass = 0

    def __init__(self, spark, work: str, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.detail: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def _rm(self, *names: str) -> None:
        for n in names:
            shutil.rmtree(self.path(n), ignore_errors=True)

    def warmup(self, passes: int) -> None:
        for i in range(passes):
            self.restore()
            self.run_pass(-1 - i)


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _extract_probes(spark, inputs: list[tuple[str, object]], runs: int
                    ) -> dict[str, float]:
    """Noop-sink probes on extraction plans, each input `(path, docs)` a
    docs frame read from `path` and probed `runs` times: the scan alone,
    scan + extract + bucketing with no write (medians over all probes), and
    the kernel's section timings per Arrow batch (mean over the batches of
    all inputs; `extract.batches` is their number)."""
    scan, noop, per_batch = [], [], []
    for path, docs in inputs:
        plan = with_partition_id(extract_spans(docs), DEFAULT_BUCKETS)
        for _ in range(runs):
            scan.append(_noop(tio.read_documents(spark, path)))
            noop.append(_noop(plan))
        prof = (
            extract_spans(docs, profile=True)
            .select(F.to_json("section_ms").alias("j"))
            .groupBy("j").count().collect()
        )
        per_batch += [json.loads(r["j"]) for r in prof]
    out = {
        "extract.scan_noop_s": median(scan),
        "extract.noop_s": median(noop),
        "extract.batches": float(len(per_batch)),
    }
    for s in SECTIONS:
        out[f"extract.section_ms.{s}"] = (
            statistics.fmean(b.get(s, 0.0) for b in per_batch)
            if per_batch else 0.0)
    return out


class ExtractBatch(Workload):
    """`job.py` production path over one mixed corpus into an empty table."""

    def __init__(self, *a, n_docs: int) -> None:
        super().__init__(*a)
        self.docs_per_pass = n_docs
        self.input = self.path("in", "docs.parquet")

    def prepare(self) -> None:
        os.makedirs(self.path("in"), exist_ok=True)
        self.docs = mixed_corpus([self.docs_per_pass], self.seed)[0]
        pq.write_table(fixtures.to_arrow(self.docs), self.input,
                       row_group_size=512)

    def restore(self) -> None:
        self._rm("out", "lineage")

    def run_pass(self, i: int) -> Pass:
        t = time.perf_counter()
        with self.tracer.span("pipeline.run_extraction"):
            st = run_extraction(self.spark, self.input, self.path("out"),
                                self.path("lineage"), run_id=f"pass-{i}")
        dt = time.perf_counter() - t
        files, size = checks.parquet_footprint(self.path("out"))
        return Pass(
            index=i, docs=st.doc_count, seconds=dt, batch_ms=[dt * 1000.0],
            out_files=files, out_bytes=size,
            table_bytes_per_doc=size / max(st.doc_count, 1),
            snapshot_entries=len(tio.snapshots(self.path("out"))),
            ok=(st.doc_count == self.docs_per_pass
                and tio.latest_snapshot_id(self.path("out")) == 1),
        )

    def check(self) -> int:
        bad = checks.extraction_mismatches(self.path("out"), self.docs,
                                           CHECK_SAMPLE, self.seed)
        self.detail["mismatched_docs"] = sorted(bad)[:20]
        return len(bad)

    def probes(self, traced: list[Pass]) -> dict[str, float]:
        # run_extraction's read -> bucket -> salt -> repartition input
        docs = with_partition_id(tio.read_documents(self.spark, self.input),
                                 DEFAULT_BUCKETS)
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        docs = salt_oversized(docs).repartition(n, "partition_id", "salt")
        return _extract_probes(
            self.spark, [(self.input, docs.select("doc_id", "spans"))],
            PROBE_RUNS)


class StreamIngest(Workload):
    """`stream_extract_committed`, availableNow, one small file per
    trigger and one snapshot commit per micro-batch, into a table that
    already holds `history` committed batches.

    Set-up streams the history files into the table (this is the
    warm-up) and keeps the table and the stream checkpoint as the base.
    Then the timed files are moved into the input directory. Every pass
    starts from a copy of the base, so it streams exactly the `files`
    timed files, and its commits read and extend a snapshot log that
    already holds `history` entries."""

    def __init__(self, *a, files: int, per_file: int, history: int) -> None:
        super().__init__(*a)
        self.files = files
        self.per_file = per_file
        self.history = history
        self.docs_per_pass = files * per_file
        self.progress: dict[int, list[dict]] = {}

    def prepare(self) -> None:
        chunks = mixed_corpus([self.per_file] * (self.history + self.files),
                              self.seed)
        self.docs = [d for c in chunks for d in c]
        # files wait in `pending` until they are moved into the input dir
        self.names = write_stream_files(self.path("pending"), chunks)
        self.timed = self.names[self.history:]

    def _release(self, names: list[str]) -> None:
        for f in names:
            os.renames(self.path("pending", f), self.path("in", f))

    def warmup(self, passes: int) -> None:
        """Build the history. Its last `RESUMED_HISTORY` files are streamed
        by a restarted query, which resumes from the checkpoint as every
        timed pass does; without that, the first timed pass ran ~30% more
        CPU seconds than the next."""
        cut = self.history - RESUMED_HISTORY
        for names in (self.names[:cut], self.names[cut:self.history]):
            self._release(names)
            q = self._stream()
            if q.exception() is not None:
                raise RuntimeError("stream_ingest: the history build failed")
        if tio.latest_snapshot_id(self.path("table")) != self.history:
            raise RuntimeError("stream_ingest: the history build failed")
        for name in ("table", "ckpt"):
            shutil.copytree(self.path(name), self.path("base", name))
        self._release(self.timed)
        super().warmup(passes - 1)

    def restore(self) -> None:
        self._rm("table", "ckpt")
        for name in ("table", "ckpt"):
            shutil.copytree(self.path("base", name), self.path(name))

    def _stream(self):
        q = stream_extract_committed(
            self.spark, self.path("in"), self.path("table"),
            self.path("ckpt"), max_files_per_trigger=1)
        q.awaitTermination()
        return q

    def run_pass(self, i: int) -> Pass:
        t = time.perf_counter()
        with self.tracer.span("stream.stream_extract_committed"):
            q = self._stream()
        dt = time.perf_counter() - t
        # numInputRows counts a batch's rows once per read of the source,
        # and a commit reads it twice; docs are counted in the table instead
        prog = [p for p in q.recentProgress if p["numInputRows"]]
        self.progress[i] = prog
        table = self.path("table")
        batch_ids = checks.read_table(table, ["batch_id"]).column("batch_id")
        docs = sum(1 for b in batch_ids.to_pylist() if int(b) >= self.history)
        # what this pass committed: the table minus the restored base
        footprint = checks.parquet_footprint(table)
        files, size = (a - b for a, b in zip(
            footprint, checks.parquet_footprint(self.path("base", "table"))))
        return Pass(
            index=i, docs=docs, seconds=dt,
            batch_ms=[float(p["durationMs"]["triggerExecution"]) for p in prog],
            out_files=files, out_bytes=size,
            # the whole table (history and this pass, written by the same
            # code): a pass's 300 docs hold only 6 giants, whose sizes made
            # bytes per doc spread by 0.16 from seed to seed
            table_bytes_per_doc=footprint[1] / max(len(batch_ids), 1),
            snapshot_entries=len(tio.snapshots(table)),
            ok=(q.exception() is None and len(prog) == self.files
                and docs == self.docs_per_pass
                and tio.latest_snapshot_id(table)
                == self.history + self.files),
        )

    def check(self) -> int:
        table = self.path("table")
        bad = checks.extraction_mismatches(table, self.docs, CHECK_SAMPLE,
                                           self.seed)
        # every batch directory on disk is owned by a snapshot, and each
        # snapshot owns one batch
        on_disk = {n.split("=", 1)[1] for n in os.listdir(table)
                   if n.startswith("batch_id=")}
        owned = set(tio.partitions_as_of(table, tio.latest_snapshot_id(table)))
        unowned = on_disk - owned
        if unowned or len(tio.snapshots(table)) != len(on_disk):
            bad = {d for d, _ in self.docs}
        self.detail.update(mismatched_docs=sorted(bad)[:20],
                           unowned_batches=sorted(unowned))
        return len(bad)

    def probes(self, traced: list[Pass]) -> dict[str, float]:
        # one probe per timed file, the input of one micro-batch
        paths = [self.path("in", f) for f in self.timed[:PROBE_FILES]]
        out = _extract_probes(
            self.spark, [(p, tio.read_documents(self.spark, p)) for p in paths],
            1)
        prog = [p for t in traced for p in self.progress[t.index]]
        for name, key in STREAM_PHASES.items():
            out[f"stream.{name}_ms.p50"] = median(
                [float(p["durationMs"].get(key, 0)) for p in prog])
        out.update(self._dedup_probe())
        return out

    def _dedup_probe(self) -> dict[str, float]:
        """Incremental near-dedup rounds (the `job.py --dedup-delta` path)
        over the batches the last pass committed: one round over the last
        `STATE_BATCHES` history batches builds the signature state, then
        one traced round per timed batch, for the first `DEDUP_ROUNDS` of
        them.

        Checked like a workload's output: every verified pair's Jaccard is
        recomputed in plain Python and must match, clear the threshold and
        touch the round's batch, and each round's state ingest must hold
        one row per (successful doc, band) of its batch."""
        table, state = self.path("table"), self.path("probe_state")
        h = self.history
        batches: dict[int, set[str]] = {}
        for r in checks.read_table(table, ["doc_id", "batch_id"]).to_pylist():
            batches.setdefault(int(r["batch_id"]), set()).add(r["doc_id"])
        first = h - STATE_BATCHES
        dedup_extracted_changes(self.spark, table, state, first, h,
                                run_id=f"dedup-delta-{first}-{h}",
                                **DEDUP_CFG).count()
        expected = checks.Expected(dict(self.docs))
        counts, problems, all_pairs = [], [], []
        # snapshot s + 1 commits batch s; round j (ingest j of the state,
        # ingest 0 holding history) reads snapshot h + j, batch h + j - 1
        rounds = range(1, DEDUP_ROUNDS + 1)
        for j in rounds:
            lo, hi = h + j - 1, h + j
            self.tracer.unit = DEDUP_UNITS + j
            self.tracer.enabled = True
            with self.tracer.span("incremental.dedup_extracted_changes"):
                rows = dedup_extracted_changes(
                    self.spark, table, state, lo, hi,
                    run_id=f"dedup-delta-{lo}-{hi}", **DEDUP_CFG).collect()
            self.tracer.enabled = False
            counts.append({**self._count_captured(DEDUP_UNITS + j),
                           "verified": len(rows)})
            pairs = [(x["id_a"], x["id_b"], float(x["jaccard"])) for x in rows]
            all_pairs += pairs
            problems += checks.bad_pairs(pairs, batches[lo], expected,
                                         DEDUP_CFG["k"], DEDUP_CFG["threshold"])
        ingests = checks.read_table(state, ["id", "band", "ingest_id"]).to_pylist()
        for j in rounds:
            want = {(d, b) for d in batches[h + j - 1]
                    if expected.result(d).success
                    for b in range(DEDUP_CFG["bands"])}
            got = [(x["id"], x["band"]) for x in ingests if x["ingest_id"] == j]
            if len(got) != len(want) or set(got) != want:
                problems.append(f"ingest {j}: {len(got)} rows, want {len(want)}")
        if problems:
            raise RuntimeError(f"dedup rounds failed their checks: {problems[:5]}")
        # the verified pair set, comparable across runs of one seed
        self.detail.update(dedup_pairs=len(all_pairs),
                           dedup_pair_set_sha256=checks.pair_set_hash(all_pairs))
        cand = median([c["candidates"] for c in counts])
        verified = median([c["verified"] for c in counts])
        return {
            "dedup.candidates": cand,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / cand if cand else 0.0,
            "dedup.state_touch_ratio": median([
                (c["bucket_rows"] - c["banded_rows"]) / c["state_rows"]
                for c in counts if c["state_rows"]]),
        }

    def _count_captured(self, unit: int) -> dict[str, int]:
        """Row counts of the frames the round's layers returned, taken
        after the round (outside its timing) while its inputs still
        exist. Materialized frames count from stored rows."""
        got = self.tracer.captured.pop(unit, [])

        def first(name, parent=None):
            for n, p, v in got:
                if n == name and (parent is None or p == parent):
                    return v
            return None

        state = first("incremental.read_signature_state")
        banded = first("dedup.minhash_banded_frame")
        allb = first("skew.materialize", "incremental.delta_candidate_pairs")
        cand = first("skew.materialize", "dedup.jaccard_verify")
        return {
            "state_rows": state.count() if state is not None else 0,
            "banded_rows": banded.count() if banded is not None else 0,
            "bucket_rows": allb.count() if allb is not None else 0,
            "candidates": cand.count() if cand is not None else 0,
        }


def mixed_corpus(sizes: list[int], seed: int) -> list[list[tuple]]:
    """Chunks of fixture docs of `seed`, in generation order, holding the
    giant slice at exactly its declared share of the whole corpus (spread
    over the chunks: the first k chunks together hold round(share * their
    size) giants).

    The fixture generator draws each doc's slice at random, so the number
    of 2k-8k-span giants in a few thousand docs varies by ~13% from seed
    to seed, and giants carry most of the spans and output bytes. Holding
    their count fixed keeps every slice in the corpus while the seed still
    picks every doc's content (and each giant's size)."""
    share = dict(fixtures.SLICES)["skewed"]
    gen = fixtures.iter_documents(100 * sum(sizes) + 1000, seed)
    giants: list[tuple] = []
    rest: list[tuple] = []
    chunks = []
    total = 0
    for size in sizes:
        n_giant = round((total + size) * share) - round(total * share)
        total += size
        while len(giants) < n_giant or len(rest) < size - n_giant:
            doc = next(gen)
            (giants if len(doc[1] or ()) >= GIANT_SPANS else rest).append(doc)
        chunk = giants[:n_giant] + rest[:size - n_giant]
        del giants[:n_giant], rest[:size - n_giant]
        chunks.append(sorted(chunk, key=lambda d: d[0]))
    return chunks


def write_stream_files(in_dir: str, chunks: list[list[tuple]]) -> list[str]:
    """Write each chunk as one parquet file (one micro-batch each), with
    strictly increasing modification times (the file source orders by
    them). Returns the file names, in that order."""
    os.makedirs(in_dir, exist_ok=True)
    base = time.time() - len(chunks) - 10
    names = []
    for f, docs in enumerate(chunks):
        names.append(f"part-{f:04d}.parquet")
        p = os.path.join(in_dir, names[-1])
        pq.write_table(fixtures.to_arrow(docs), p, row_group_size=512)
        os.utime(p, (base + f, base + f))
    return names

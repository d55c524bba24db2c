"""Correctness checks, run outside the timed region.

Extraction output (batch table or stream table) is compared doc by doc
with the pure-Python reference `ocr_toolkit_spark.oracle`. Dedup pairs are
re-verified with a plain-Python Jaccard over the oracle's rendered
markdown, using the engine's tokenizer rules (lower-case, trim spaces,
split on ASCII whitespace, distinct word k-shingles).
"""

from __future__ import annotations

import hashlib
import os
import random
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from ocr_toolkit_spark import oracle

# Java's `\s` is ASCII-only; Python's would also split on Unicode spaces
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def read_table(path: str, columns: list[str]):
    """Read a hive-partitioned parquet table with pyarrow (no Spark job).
    Directories whose names start with `_` (the snapshot log) are skipped."""
    return ds.dataset(path, format="parquet", partitioning="hive",
                      ignore_prefixes=["_", "."]).to_table(columns=columns)


class Expected:
    """Oracle results for a corpus, computed once per run on demand."""

    def __init__(self, docs: dict[str, list[dict] | None]) -> None:
        self._docs = docs
        self._cache: dict[str, oracle.ExtractResult] = {}

    def result(self, doc_id: str) -> oracle.ExtractResult:
        r = self._cache.get(doc_id)
        if r is None:
            r = oracle.extract_document(doc_id, self._docs[doc_id])
            self._cache[doc_id] = r
        return r

    def markdown(self, doc_id: str) -> str:
        return oracle.render_markdown(self.result(doc_id))


def extraction_mismatches(path: str, docs: list[tuple[str, list | None]],
                          sample: int, seed: int) -> set[str]:
    """Doc ids of `docs` whose committed row is missing or duplicated, plus
    those of a seeded sample of `sample` docs whose row differs from the
    oracle (spans, success flag). The comparison runs on flattened Arrow
    columns; only a mismatch falls back to per-doc rows."""
    ids = read_table(path, ["doc_id"]).column("doc_id").to_pylist()
    want = {d for d, _ in docs}
    counts: dict[str, int] = {}
    for d in ids:
        counts[d] = counts.get(d, 0) + 1
    bad = {d for d in want if counts.get(d) != 1} | (set(counts) - want)
    if sample < len(docs):
        docs = random.Random(seed).sample(docs, sample)
    exp = sorted((oracle.extract_document(d, s) for d, s in docs),
                 key=lambda r: r.doc_id)
    got = read_table(path, ["doc_id", "out_spans", "success"])
    got = got.filter(pc.is_in(got.column("doc_id"),
                              pa.array([r.doc_id for r in exp])))
    got = got.sort_by("doc_id").combine_chunks()
    spans = got.column("out_spans").chunk(0) if got.num_rows else None
    flat = pc.list_flatten(spans) if spans is not None else None
    same = (
        got.column("doc_id").to_pylist() == [r.doc_id for r in exp]
        and got.column("success").to_pylist() == [r.success for r in exp]
        and spans is not None
        and pc.list_value_length(spans).fill_null(0).to_pylist()
        == [len(r.out_spans) for r in exp]
        and all(
            flat.field(f).to_pylist()
            == [getattr(s, f) for r in exp for s in r.out_spans]
            for f in ("kind", "text", "media_ref", "order"))
    )
    if same:
        return bad
    by_id = {r.doc_id: r for r in exp}
    for row in got.to_pylist():
        g = by_id[row["doc_id"]]
        eng = [(s["kind"], s["text"], s["media_ref"], s["order"])
               for s in row["out_spans"] or []]
        if (eng != [(s.kind, s.text, s.media_ref, s.order)
                    for s in g.out_spans]
                or bool(row["success"]) != g.success):
            bad.add(row["doc_id"])
    return bad


def parquet_footprint(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under `path`."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def shingles(text: str, k: int) -> set[str]:
    toks = _JAVA_WS.split(text.lower().strip(" "))
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def bad_pairs(pairs: list[tuple[str, str, float]], delta_ids: set[str],
              expected: Expected, k: int, threshold: float) -> list[tuple]:
    """Pairs whose engine Jaccard disagrees with the plain-Python value,
    falls below the threshold, is not normalized (id_a < id_b) or touches
    no doc of the round's delta."""
    sh: dict[str, set[str]] = {}

    def get(d: str) -> set[str]:
        if d not in sh:
            sh[d] = shingles(expected.markdown(d), k)
        return sh[d]

    out = []
    for a, b, j in pairs:
        ref = jaccard(get(a), get(b))
        if (abs(ref - j) > 1e-9 or ref < threshold or not a < b
                or not ({a, b} & delta_ids)):
            out.append((a, b, j, ref))
    return out


def pair_set_hash(pairs: list[tuple[str, str, float]]) -> str:
    h = hashlib.sha256()
    for a, b, _ in sorted(pairs):
        h.update(f"{a}\t{b}\n".encode())
    return h.hexdigest()[:16]

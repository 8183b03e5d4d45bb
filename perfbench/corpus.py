"""Seeded inputs, their cache, and the correctness gate.

Corpora come from ``astrospark.fixtures.write_docs_parquet`` and are cached
per (size, seed) under ``.perfbench_cache/`` in the checkout, so generation
stays outside every timed region and is paid once per seed.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

from perfbench.metrics import ROOT

CACHE = os.path.join(ROOT, ".perfbench_cache")
SKEW_EVERY = 500  # like bench.py
ROWS_PER_FILE = 1024
OUT_COLUMNS = ("doc_id", "seq", "kind", "text", "media_ref", "offset")


def ensure_corpus(n_docs: int, seed: int) -> str:
    """Path of the cached parquet corpus; generated on first use."""
    from astrospark.fixtures import write_docs_parquet

    path = os.path.join(CACHE, f"docs-{n_docs}-seed{seed}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_docs_parquet(tmp, n_docs, seed=seed, skew_every=SKEW_EVERY,
                           rows_per_file=ROWS_PER_FILE)
        os.rename(tmp, path)  # atomic: a cut generation leaves no corpus
    return path


def first_file(path: str) -> str:
    return os.path.join(path, sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0])


def load_docs(path: str):
    """The corpus as a pandas frame (doc_id, spans) in file order."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(root, f) for root, _dirs, files in os.walk(path)
                  for f in files if f.endswith(".parquet"))


def read_output(path: str):
    """A Spark output directory (flat or partitioned) as one arrow table
    of OUT_COLUMNS sorted by (doc_id, seq)."""
    import pyarrow.dataset as ds

    table = ds.dataset(parquet_files(path), format="parquet").to_table(columns=list(OUT_COLUMNS))
    return table.sort_by([("doc_id", "ascending"), ("seq", "ascending")])


def output_rows(path: str) -> int:
    """Row count of a Spark output directory from the parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def digest(table) -> str:
    """sha256 over every output row in (doc_id, seq) order."""
    h = hashlib.sha256()
    cols = [table.column(c).to_pylist() for c in OUT_COLUMNS]
    for row in zip(*cols):
        h.update("\x1f".join(map(str, row)).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def rows_by_doc(table) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in table.to_pylist():
        doc = r.pop("doc_id")
        out.setdefault(doc, []).append(r)
    return out


def sample_ids(doc_ids, k: int, seed: int) -> list:
    """A fixed seeded sample of ``k`` doc ids."""
    rng = np.random.default_rng([seed, 0xC0FFEE])
    idx = rng.choice(len(doc_ids), size=min(k, len(doc_ids)), replace=False)
    return [doc_ids[i] for i in sorted(idx)]


def oracle_mismatches(docs, sample: list, got: dict, artifacts) -> list:
    """Doc ids in ``sample`` whose output differs from
    ``oracle.process_document`` under span-sequence equality."""
    from astrospark.oracle import process_document

    vocab, trie, model = artifacts
    spans_of = dict(zip(docs["doc_id"], docs["spans"]))
    bad = []
    for doc_id in sample:
        spans = spans_of[doc_id]
        want = process_document([] if spans is None else [dict(s) for s in spans],
                                vocab, trie, model)
        have = [{k: r[k] for k in ("seq", "kind", "text", "media_ref", "offset")}
                for r in got.get(doc_id, [])]
        if have != want:
            bad.append(doc_id)
    return bad

"""rolling_admit: batches admitted one at a time into the rolling
segment stores.

The seed splits the generated ``documents`` into a base corpus and a
stream of batches.  Set-up builds the base of ``AudioIndexStore``,
``ImageBandIndexStore``, ``VideoKeyframeIndexStore`` and
``IncrementalClusters``, with inputs derived as the registered
``*_incremental`` faces derive them.  A timed operation admits one
batch into one store (``probe_admit`` / ``admit``), the stores taking
turns, so each store's segment count grows batch by batch; one
``compact()`` per store closes the run.

Every batch carries exact copies of base documents under new ids.  The
check: each copy is a duplicate in the three probe stores and joins its
original's cluster; the digest of all verdicts goes to the run record."""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
from pyspark.sql import functions as F

from common import dir_bytes, median
from oxidsql_spark.cachescope import release_scoped_caches, scoped_cache_count
from oxidsql_spark.operators.graph import IncrementalClusters
from oxidsql_spark.operators.multimodal import (
    AudioIndexStore,
    ImageBandIndexStore,
    VideoKeyframeIndexStore,
    _dhash_fake_frame,
    _vid_fh,
)
from oxidsql_spark.segstore import list_segments

N_BASE = 1500
BATCH = 40
COPIES = 4
STORES = ("audio", "image", "video", "clusters")


def _inputs(kind: str, d):
    """The store input for documents ``d`` (doc_id, text), derived as the
    ``mm_*_dedup_incremental`` / ``dedup_clusters_incremental_q`` faces do."""
    if kind == "audio":
        return d.select("doc_id", F.col("text").cast("binary").alias("payload"))
    if kind == "image":
        return _dhash_fake_frame(d, ["doc_id"])
    if kind == "video":
        return _vid_fh(d)
    return d


class Rolling:
    def __init__(self, run):
        self.run = run
        self.rng = np.random.default_rng([run.seed, 3])
        self.verdicts = hashlib.sha256()
        self.queue: list[tuple] = []  # (store, batch, copies) still to admit
        self.files: list[int] = []
        self.written: list[int] = []
        self.held: dict[str, list[int]] = {}  # store -> scoped caches held at release

    def setup(self, data_dir: str) -> None:
        spark = self.run.spark
        docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        rows = {r.doc_id: r.text for r in docs.collect()}
        ids = np.array(sorted(rows))[self.rng.permutation(len(rows))]
        self.base_ids = [int(i) for i in ids[:N_BASE]]
        # copies are drawn from long documents: a text too short to
        # fingerprint admits by definition in the audio store
        self.long_ids = [i for i in self.base_ids if len(rows[i]) >= 300]
        self.rest = [int(i) for i in ids[N_BASE:]]
        self.rows = rows
        cls = {
            "audio": AudioIndexStore,
            "image": ImageBandIndexStore,
            "video": VideoKeyframeIndexStore,
            "clusters": IncrementalClusters,
        }
        self.stores = {k: cls[k](spark, self.run.path("stores", k)) for k in STORES}
        base = docs.filter(F.col("doc_id").isin(self.base_ids))
        with self.run.tracer.span("build", "segstore", op="setup"):
            for k in STORES:
                self.stores[k].build(_inputs(k, base))
                release_scoped_caches()
        self.n_batch = 0
        self.round_len = len(STORES)

    def _next_batch(self):
        """Fresh documents from the stream plus exact copies of base
        documents under new ids: (DataFrame, {copy id: original id})."""
        spark = self.run.spark
        take = [self.rest.pop() for _ in range(min(BATCH, len(self.rest)))]
        orig = [self.long_ids[int(i)] for i in self.rng.integers(0, len(self.long_ids), COPIES)]
        copies = {10_000_000 + self.n_batch * 100 + j: o for j, o in enumerate(orig)}
        rows = [(i, self.rows[i]) for i in take] + [(c, self.rows[o]) for c, o in copies.items()]
        self.n_batch += 1
        return spark.createDataFrame(rows, "doc_id bigint, text string"), copies

    def next_op(self):
        if not self.queue:
            batch, copies = self._next_batch()
            self.queue = [(k, batch, copies) for k in STORES]
        kind, batch, copies = self.queue.pop(0)
        store = self.stores[kind]
        if kind != "clusters":
            self.files.append(
                sum(
                    1
                    for s in list_segments(store.path)
                    for f in os.listdir(s)
                    if f.endswith(".parquet")
                )
            )
        before = dir_bytes(store.path)
        tag = f"b{self.n_batch:06d}"
        return kind, lambda: self._admit(kind, store, batch, copies, tag, before)

    def _admit(self, kind, store, batch, copies, tag, before):
        tr = self.run.tracer
        with tr.span(kind, "segstore"):
            inp = _inputs(kind, batch)
            if kind == "clusters":
                store.admit(inp)
                disp = None
            else:
                disp = store.probe_admit(inp, tag).collect()
        with tr.span("release", "cachescope"):
            self.held.setdefault(kind, []).append(scoped_cache_count())
            release_scoped_caches()

        def check():
            self.written.append(dir_bytes(store.path) - before)
            if disp is None:
                want = list(copies) + list(copies.values())
                lab = {
                    r.doc_id: r.cluster_id
                    for r in store.labels().filter(F.col("doc_id").isin(want)).collect()
                }
                got = sorted((c, lab.get(c) == lab.get(o)) for c, o in copies.items())
            else:
                got = sorted((r.doc_id, bool(r.is_dup)) for r in disp)
            self.verdicts.update(repr((kind, got)).encode())
            dup = dict(got)
            missed = [c for c in copies if not dup.get(c)]
            if missed:
                raise AssertionError(f"{kind}: exact copies {missed} admitted as new")

        return check

    def finish(self) -> None:
        run = self.run
        run.record["verdict_digest"] = self.verdicts.hexdigest()
        run.layer["segstore.segments"] = sum(
            len(list_segments(self.stores[k].path)) for k in STORES if k != "clusters"
        )
        run.layer["segstore.files_per_probe"] = median(self.files)
        run.layer["segstore.bytes_written"] = sum(self.written)
        run.layer["cachescope.held"] = sum(median(v) for v in self.held.values())
        lat = run.latencies_by_kind()
        for k in STORES:
            run.layer[f"segstore.probe_admit_ms.{k}"] = median(lat.get(k, []))
        t0 = time.perf_counter()
        with run.tracer.span("compact", "segstore", op="compact"):
            for k in STORES:
                if k != "clusters":
                    run.attempt(f"compact:{k}", self.stores[k].compact)
        run.layer["segstore.compact_ms"] = (time.perf_counter() - t0) * 1e3

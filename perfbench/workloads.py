"""The two perfbench workloads, each one closed-loop client.

A workload is ``prepare`` (generate inputs and reference answers; not
timed), ``setup`` (the library's own set-up calls; timed) and ``ops`` (an
endless stream of rounds; each op's answer is checked after its timer
stops).  Only ``muller_spark`` public functions receive data,
and only the generated files.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

import gen
import oracle
from probe import du

TABLE_ROWS = 2_500
TABLE_BATCH = 250
TABLE_CELLS = 10
CURATE_DOCS = 3_000
CURATE_SEED_DOCS = 1_000
CURATE_BATCH = 250
# semantic_dedup compares only within k-means cells, so it may miss a
# pair the exact scan finds; a run fails below this share of the exact
# answer (the injected copies alone are ~8% of the corpus)
SEM_MIN_RECALL = 0.9
IVF_NLIST, IVF_NPROBE = 64, 4
TOPK = 10
# IVF searches per table round; recall is their mean, and one query's
# recall@10 moves in steps of 0.1
VECTOR_OPS = 4
TENSORS = (
    ("rid", "generic", "int64"),
    ("text", "text", None),
    ("score", "generic", "float64"),
    ("label", "class_label", "int64"),
    ("emb", "embedding", None),
)


class Op:
    """One closed-loop request: ``run`` does the library calls through
    the probe and returns their materialized answer; ``check`` (untimed)
    returns whether that answer is right.  ``last`` marks the end of a
    round: runs stop only there, so every run times whole rounds."""

    def __init__(self, kind, run, check, last=False):
        self.kind, self.run, self.check, self.last = kind, run, check, last


class Workload:
    name = ""

    def __init__(self, spark, probe, work: str, seed: int) -> None:
        self.spark, self.probe, self.work, self.seed = spark, probe, work, seed
        self.rng = np.random.default_rng(seed + 1_000_003)
        self.user_bytes = 0
        self.space_amp = None
        self.facts: dict = {}

    def read(self, path):
        return self.spark.read.parquet(path)

    def extra(self, ops: list) -> dict:
        return {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def write(self, table, name: str) -> str:
        p = self.path(name)
        size = gen.write_parquet(table, p)
        self.facts.setdefault("parquet", {})[name] = {
            "bytes": size, "sha256": gen.parquet_sha256(p)}
        return p


# ----------------------------------------------------------------------
# table: a versioned, indexed table that is written and queried
# ----------------------------------------------------------------------
def _fresh(ds) -> bool:
    """Both index manifests name the dataset HEAD.  ``filter_vectorized``
    and ``vector_search`` silently fall back to scans on a stale index,
    so a stale index must fail the op instead of reading as a speed-up."""
    idx = ds.list_indexes()
    return all(idx.get(t, {}).get(k, {}).get("fresh") for t, k in
               (("text", "inverted"), ("emb", "vector/default")))


def _ids(ds):
    """rid -> _row_id of the checked-out snapshot (for mapping ids)."""
    return {r[0]: r[1] for r in ds.df.select("rid", "_row_id").collect()}


def _same_ranking(got, want) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= 1.5e-5 for g, w in zip(got, want))


class Table(Workload):
    """Collaborative write path plus the query mix on one versioned table.

    A round: on branch ``feature``, append a batch and commit; refresh
    both indexes; run the query mix (scalar filters, indexed CONTAINS
    with a hot and a rare term, BM25, IVF top-k, aggregates) against the
    fresh indexes; on ``main``, update cells and commit; merge
    ``feature``; diff against the pre-merge head."""

    name = "table"

    def prepare(self) -> None:
        self.g = gen.TableGen(self.seed)
        base = self.g.rows(TABLE_ROWS)
        self.base_path = self.write(base, "base.parquet")
        self.user_bytes = self.facts["parquet"]["base.parquet"]["bytes"]
        self.facts["input"] = self.g.properties([base])
        self.facts["input"]["batch_rows"] = TABLE_BATCH
        self.facts["input"]["cells_per_update"] = TABLE_CELLS
        # the feature branch's columns, extended by every committed batch
        self.text = oracle.TextIndex()
        self.text.add(base.column("rid").to_numpy(), base.column("text").to_pylist())
        self.emb = np.stack(base.column("emb").to_numpy(zero_copy_only=False))
        self.rid = base.column("rid").to_numpy()
        self.score = base.column("score").to_numpy()
        self.label = base.column("label").to_numpy()
        # main's state: rid -> score, the oracle for every merge
        self.main = dict(zip(self.rid.tolist(), self.score.tolist()))
        self.batches = [self.g.rows(TABLE_BATCH) for _ in range(8)]  # > rounds per run
        self.batch_paths = [None] * len(self.batches)
        self.hot = self.g.hot_terms(20)
        self.rare = self.g.rare_terms(50)
        self.queries = self.g.queries(VECTOR_OPS * len(self.batches))
        self.recalls: list[float] = []

    def setup(self) -> None:
        import muller_spark.dataset as D

        ds = D.empty(self.path("ds"), self.spark, overwrite=True)
        for name, htype, dtype in TENSORS:
            ds.create_tensor(name, htype=htype, dtype=dtype)
        ds.extend_df(self.read(self.base_path))
        ds.commit("base")
        self.probe.call("index.inverted.build",
                        lambda: ds.create_index_vectorized("text", positions=True))
        self.probe.call("index.vector.build", lambda: ds.create_vector_index(
            "emb", index_type="IVF", nlist=IVF_NLIST, nprobe=IVF_NPROBE))
        ds.load_vector_index("emb")
        ds.checkout("feature", create=True)
        self.ds = ds

    def recall(self):
        return statistics.mean(self.recalls) if self.recalls else None

    def batch_path(self, r: int) -> str:
        if self.batch_paths[r] is None:
            self.batch_paths[r] = self.write(self.batches[r], f"batch{r}.parquet")
        return self.batch_paths[r]

    def ops(self):
        self.row_of = _ids(self.ds)
        self.main_row = dict(self.row_of)  # main and feature share the base commit
        for r in range(len(self.batches)):
            yield from self._round(r)

    def _round(self, r: int):
        call = self.probe.call
        ds = self.ds
        data = [ds.path]
        batch = self.batches[r]
        bpath = self.batch_path(r)  # written before the op: not timed

        def commit():
            ds.checkout("feature")
            call("dataset.extend_df", lambda: ds.extend_df(self.read(bpath)))
            return call("dataset.commit", lambda: ds.commit(f"batch {r}"), writes=data)

        def check_commit(out):
            self.user_bytes += os.path.getsize(bpath)
            self.text.add(batch.column("rid").to_numpy(), batch.column("text").to_pylist())
            self.emb = np.concatenate(
                [self.emb, np.stack(batch.column("emb").to_numpy(zero_copy_only=False))])
            for col in ("rid", "score", "label"):
                setattr(self, col, np.concatenate(
                    [getattr(self, col), batch.column(col).to_numpy()]))
            self.row_of = _ids(ds)
            n = TABLE_ROWS + (r + 1) * TABLE_BATCH
            return ds.log_history()[0].row_count == n and len(self.row_of) == n

        yield Op("commit", commit, check_commit)

        def refresh():
            call("index.inverted.update", lambda: ds.update_index("text"), writes=data)
            call("index.vector.update", lambda: ds.update_vector_index("emb"), writes=data)

        yield Op("refresh", refresh, lambda out: _fresh(ds))
        yield from self._queries(r)

        cells = self.rng.choice(TABLE_ROWS, TABLE_CELLS, replace=False)
        values = self.rng.random(TABLE_CELLS)

        def update():
            ds.checkout("main")
            for row, v in sorted((self.main_row[int(rid)], float(v))
                                 for rid, v in zip(cells, values)):
                ds[row] = {"score": v}
            return ds.commit(f"update {r}")

        def check_update(out):
            for rid, v in zip(cells, values):
                self.main[int(rid)] = float(v)
            return ds.log_history()[0].row_count == len(self.main)

        yield Op("update", update, check_update)

        before = {}

        def merge():
            before["head"] = ds.commit_id
            return call("versioning.merge", lambda: ds.merge("feature"), writes=data)

        def check_merge(out):
            self.main.update(zip(batch.column("rid").to_pylist(),
                                 batch.column("score").to_pylist()))
            got = {rid: s for rid, s in ds.df.select("rid", "score").collect()}
            self.main_row = _ids(ds)
            if r == 0:
                self.space_amp = du(data) / self.user_bytes
            return got == self.main

        yield Op("merge", merge, check_merge)
        yield Op("diff", lambda: call("versioning.diff", lambda: ds.diff(before["head"])),
                 lambda out: (len(out["HEAD"]["appended"]) == batch.num_rows
                              and not out["HEAD"]["popped"] and not out["HEAD"]["updated"]),
                 last=True)

    def _queries(self, r: int):
        """The query mix on the feature branch, just after the refresh.
        The references are built when the op is due, from the feature
        columns as of the round's commit."""
        call, ds = self.probe.call, self.ds
        lo = float(self.rng.random() * 0.8)
        lab = int(self.rng.integers(0, 10))
        hi = float(0.9 + self.rng.random() * 0.09)
        for conds, conn, mask in (
            ([("score", "BETWEEN", (lo, lo + 0.1)), ("label", "==", lab)], ["AND"],
             lambda: (self.score >= lo) & (self.score <= lo + 0.1) & (self.label == lab)),
            ([("score", ">=", hi)], None, lambda: self.score >= hi),
        ):
            yield Op("filter", lambda conds=conds, conn=conn: call(
                "dataset.filter_vectorized",
                lambda: {row[0] for row in ds.filter_vectorized(conds, conn)
                         .select("rid").collect()}),
                lambda out, mask=mask: out == set(self.rid[mask()].tolist()))

        for term in (self.hot[r % len(self.hot)], self.rare[r % len(self.rare)]):
            yield Op("fulltext", lambda term=term: call(
                "index.inverted.search",
                lambda: {row[0] for row in ds.filter_vectorized(
                    [("text", "CONTAINS", term, True)]).select("rid").collect()}),
                lambda out, term=term: _fresh(ds) and out == self.text.contains_all(term))

        query = f"{self.hot[(r + 7) % len(self.hot)]} {self.rare[(r + 11) % len(self.rare)]}"
        yield Op("bm25", lambda: call(
            "index.inverted.bm25",
            lambda: [(row[0], row[1]) for row in ds.search_bm25("text", query, k=TOPK)
                     .select("rid", "_bm25_score").collect()]),
            lambda out: _fresh(ds) and _same_ranking(
                out, self.text.bm25(query, TOPK, order_key=self.row_of.__getitem__)))

        for q in self.queries[VECTOR_OPS * r:VECTOR_OPS * (r + 1)]:
            def check_vector(out, q=q):
                rid_of = {v: k for k, v in self.row_of.items()}
                got = {rid_of[i] for i in out}
                self.recalls.append(len(got & oracle.knn(self.emb, self.rid, q, TOPK)) / TOPK)
                return _fresh(ds) and len(out) == TOPK

            yield Op("vector", lambda q=q: call(
                "index.vector.search",
                lambda: [row["id"] for row in ds.vector_search(q.tolist(), "emb", topk=TOPK)
                         .collect()]), check_vector)

        def want_count():
            return {int(k): int(v) for k, v in zip(*np.unique(self.label, return_counts=True))}

        def want_max():
            return {int(k): float(self.score[self.label == k].max())
                    for k in np.unique(self.label)}

        for kw, want in (({"method": "count"}, want_count),
                         ({"method": "max", "aggregate_tensors": ["score"]}, want_max)):
            yield Op("aggregate", lambda kw=kw: call(
                "dataset.aggregate_vectorized",
                lambda: {row[0]: row[1] for row in
                         ds.aggregate_vectorized(group_by=["label"], **kw).collect()}),
                lambda out, want=want: out == want())


# ----------------------------------------------------------------------
# curate
# ----------------------------------------------------------------------
class Curate(Workload):
    """Batch curation (quality gate + exact dedup + per-source top
    fraction, exact near-dup pairs and keep list, semantic dedup) and the
    incremental near-dup flow."""

    name = "curate"

    def prepare(self) -> None:
        table, props = gen.curate_corpus(self.seed, CURATE_DOCS)
        self.corpus_path = self.write(table, "corpus.parquet")
        self.seed_path = self.write(table.slice(0, CURATE_SEED_DOCS), "seed.parquet")
        self.batch_paths = []
        for start in range(CURATE_SEED_DOCS, CURATE_DOCS, CURATE_BATCH):
            self.batch_paths.append(self.write(table.slice(start, CURATE_BATCH),
                                               f"batch{len(self.batch_paths)}.parquet"))
        pairs = {"exact": props.pop("exact_pairs"), "near": props.pop("near_pairs")}
        props["injected_pairs"] = {k: len(v) for k, v in pairs.items()}
        props["seed_docs"], props["batch_docs"] = CURATE_SEED_DOCS, CURATE_BATCH
        self.facts["input"] = props
        self.user_bytes = self.facts["parquet"]["seed.parquet"]["bytes"]

        ids = table.column("doc_id").to_numpy()
        texts = table.column("text").to_pylist()
        self.want_pipeline = oracle.curation_pipeline(
            ids.tolist(), table.column("source").to_pylist(), texts)
        self.want_pairs = oracle.jaccard_pairs(ids, texts, 0.7)
        self.want_keep = oracle.components(ids, self.want_pairs)
        self.want_sem = oracle.cosine_dropped(
            ids, np.stack(table.column("emb").to_numpy(zero_copy_only=False)), 0.95)
        if not self.want_sem:
            raise RuntimeError("the corpus holds no near-identical embeddings")
        self.all_ids = set(ids.tolist())
        self.short = {int(i) for i, t in zip(ids, texts) if len(t.split()) < 10}
        # copy -> original for every injected pair
        self.copy_of = {c: o for o, c in pairs["exact"] + pairs["near"]}
        self.exact_copies = {c for _, c in pairs["exact"]}
        self.found = self.eligible = 0
        self.sem_recall: list[float] = []

    def setup(self) -> None:
        from muller_spark.operators.flow import IncrementalDedupFlow

        self.flow = IncrementalDedupFlow(self.path("flow"), "text", "doc_id", threshold=0.5)
        self.probe.call("operators.flow.init",
                        lambda: self.flow.init(self.read(self.seed_path)))

    def ops(self):
        from muller_spark.operators.curation import curation_pipeline
        from muller_spark.operators.dedup import (
            canonical_keep_list,
            prefix_verified_pairs,
            semantic_dedup,
        )

        call = self.probe.call
        df = self.read(self.corpus_path)
        batch_start = CURATE_SEED_DOCS
        for b, bpath in enumerate(self.batch_paths):
            yield Op("pipeline", lambda: call(
                "operators.curation.pipeline",
                lambda: {tuple(r) for r in curation_pipeline(
                    df, "text", "doc_id", "source").collect()}),
                lambda out: out == self.want_pipeline)
            pairs = {}

            def prefix():
                p = call("operators.dedup.prefix_pairs",
                         lambda: prefix_verified_pairs(
                             df, "text", "doc_id", threshold=0.7).localCheckpoint())
                pairs["df"] = p
                return p

            yield Op("prefix_pairs", prefix, lambda out: {
                (r[0], r[1]): r[2] for r in out.collect()} == self.want_pairs)
            yield Op("keep_list", lambda: call(
                "operators.dedup.keep_list",
                lambda: {r[0]: (r[1], r[2]) for r in
                         canonical_keep_list(df, pairs["df"], "doc_id").collect()}),
                lambda out: out == {i: (c, c == i) for i, c in self.want_keep.items()})

            def check_sem(out):
                dropped = self.all_ids - out
                recall = len(dropped & self.want_sem) / len(self.want_sem)
                self.sem_recall.append(recall)
                return dropped <= self.want_sem and recall >= SEM_MIN_RECALL

            yield Op("semantic_dedup", lambda: call(
                "operators.dedup.semantic_dedup",
                lambda: {r[0] for r in semantic_dedup(df, "emb", "doc_id", threshold=0.95)
                         .select("doc_id").collect()}), check_sem)

            flow, root = self.flow, [self.flow.root]
            ids = set(range(batch_start, batch_start + CURATE_BATCH))
            labels = {}

            def check_ingest(out, ids=ids, start=batch_start):
                # copies of documents admitted earlier (seed or earlier
                # batches) are the pairs the flow is responsible for
                eligible = {c for c in ids if c in self.copy_of and self.copy_of[c] < start}
                self.found += len(eligible - out)
                self.eligible += len(eligible)
                must_keep = ids - self.short - set(self.copy_of)
                labels["ingest"] = dict(flow.labels().collect())
                labels["copies"] = eligible & self.exact_copies
                return out <= ids and must_keep <= out and not (out & labels["copies"])

            yield Op("flow_ingest", lambda bpath=bpath: call(
                "operators.flow.ingest",
                lambda: {r[0] for r in flow.ingest(self.read(bpath))
                         .select("doc_id").collect()}, writes=root), check_ingest)

            def check_compact(out, b=b):
                if b == 0:
                    admitted = self.user_bytes + os.path.getsize(self.batch_paths[0])
                    self.space_amp = du(root) / admitted
                # compaction keeps every cluster label, and each dropped
                # exact copy sits in a cluster led by an earlier document
                got = dict(flow.labels().collect())
                return got == labels["ingest"] and all(
                    got.get(c, c) < c for c in labels["copies"])

            yield Op("flow_compact", lambda: call(
                "operators.flow.compact", flow.compact, writes=root), check_compact,
                last=True)
            batch_start += CURATE_BATCH

    def recall(self):
        return self.found / self.eligible if self.eligible else None

    def extra(self, ops: list) -> dict:
        def secs(kinds):
            return sum(o["ms"] for o in ops if o["kind"] in kinds) / 1e3

        def n(kind):
            return sum(o["kind"] == kind for o in ops)

        batch = ("pipeline", "prefix_pairs", "keep_list", "semantic_dedup")
        flow = ("flow_ingest", "flow_compact")
        return {
            "docs_per_s": CURATE_DOCS * n("semantic_dedup") / secs(batch)
            if n("semantic_dedup") else None,
            "ledger_docs_per_s": CURATE_BATCH * n("flow_compact") / secs(flow)
            if n("flow_compact") else None,
            "semantic_dedup_recall": self.sem_recall,
        }


WORKLOADS = {"table": Table, "curate": Curate}

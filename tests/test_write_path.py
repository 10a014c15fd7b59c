"""The table write path: snapshot reads, diff, merge and index refresh
each pay for a Spark pass once.  Job budgets are upper bounds measured
on a small dataset; the IVF and typo cases are regression tests for
silent wrong answers and crashes."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from muller_spark import dataset as ds_mod  # noqa: E402
from muller_spark.errors import MullerSparkError  # noqa: E402
from muller_spark.index.inverted import InvertedIndex  # noqa: E402

DIM = 8


def _vecs(n: int, seed: int = 0) -> list:
    rng = np.random.RandomState(seed)
    return [[float(x) for x in v] for v in rng.randn(n, DIM)]


def _text(i: int) -> str:
    return f"doc{i} w{i % 7} w{i % 11} common words here"


def _build(spark, path: str, n: int, seed: int = 0):
    ds = ds_mod.dataset(path, spark)
    ds.create_tensor("rid", dtype="int64")
    ds.create_tensor("text", htype="text")
    ds.create_tensor("emb", htype="embedding", dtype="float32")
    ds.extend({
        "rid": list(range(n)),
        "text": [_text(i) for i in range(n)],
        "emb": _vecs(n, seed),
    })
    ds.commit("seed")
    return ds


def _row_of(ds) -> dict:
    return dict(ds.df.select("rid", "_row_id").collect())


def _nearest(ds, vec) -> int:
    (hit,) = ds.vector_search(vec, "emb", topk=1).collect()
    return hit["id"]


# ---------------------------------------------------------------- IVF staleness

def test_ivf_refresh_after_pop_rebuilds(spark, tmp_path):
    """A pop renumbers rows: the refresh must rebuild, not keep the old
    ids (which then name the next row's vector)."""
    ds = _build(spark, str(tmp_path / "ds"), 400)
    vecs = _vecs(400)
    ds.create_vector_index("emb", index_type="IVF", nlist=4, store_vectors=True)
    ds.pop(0)
    ds.commit("pop")
    ds.update_vector_index("emb")
    assert ds.list_indexes()["emb"]["vector/default"]["fresh"]
    assert _nearest(ds, vecs[200]) == _row_of(ds)[200] == 199


def test_ivf_refresh_after_renumbering_merge(spark, tmp_path):
    """A merge that drops a row renumbers the merged table: the
    loaded index is rebuilt and its resident state reloaded."""
    ds = _build(spark, str(tmp_path / "ds"), 400)
    vecs = _vecs(400)
    ds.create_vector_index("emb", index_type="IVF", nlist=4, store_vectors=True)
    ds.load_vector_index("emb")
    ds.checkout("f", create=True)
    ds.pop(0)
    ds.commit("pop on f")
    ds.checkout("main")
    extra = _vecs(10, seed=1)
    ds.extend({"rid": list(range(400, 410)), "text": ["x"] * 10, "emb": extra})
    ds.commit("append on main")
    ds.update_vector_index("emb")  # append-only: the delta path
    assert _nearest(ds, extra[3]) == 403
    ds.merge("f", pop_resolution="theirs")
    ds.update_vector_index("emb")
    rows = _row_of(ds)
    assert 0 not in rows and len(rows) == 409
    assert ds.list_indexes()["emb"]["vector/default"]["fresh"]
    assert _nearest(ds, vecs[200]) == rows[200] == 199
    assert _nearest(ds, extra[3]) == rows[403]


# ---------------------------------------------------------------- typo_match

def _words(n: int, seed: int = 3) -> list:
    rng = np.random.RandomState(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, 9)) for _ in range(n)]


@pytest.fixture()
def typo_index(spark, tmp_path):
    words = _words(70)
    docs = spark.createDataFrame(
        [(0, " ".join(words[:64])), (1, " ".join(words[:63])),
         (2, " ".join(words[1:64])), (3, " ".join(words[64:]))],
        "doc_id long, text string",
    )
    idx = InvertedIndex.build(
        docs, "text", str(tmp_path / "idx"), id_col="doc_id",
        num_shards=4, typo_keys=1,
    )
    return idx, words


def _ids(df) -> set:
    return {r["id"] for r in df.collect()}


def test_typo_match_64_tokens(typo_index):
    idx, words = typo_index
    # one edit on each of the first five tokens
    query = [w[:-1] + ("a" if w[-1] != "a" else "b") if i < 5 else w
             for i, w in enumerate(words[:64])]
    first_63 = _ids(idx.search(" ".join(query[:63]), "typo_match"))
    assert first_63 == {0, 1}
    with_64th = _ids(idx.search(" ".join(query), "typo_match"))
    assert with_64th == first_63 & _ids(idx.search(words[63], "fuzzy_match")) == {0}


def test_typo_cap_counts_distinct_pairs(typo_index):
    idx, words = typo_index
    # an exact token shares every one of its deletion keys with its own
    # term: many raw candidate rows, a single (token, term) pair each
    query = " ".join(words[:3])
    want = _ids(idx.search(query, "typo_match"))
    idx._TYPO_CANDIDATE_CAP = 3
    assert _ids(idx.search(query, "typo_match")) == want == {0, 1}
    idx._TYPO_CANDIDATE_CAP = 2
    with pytest.raises(MullerSparkError, match="candidate set exceeds 2"):
        idx.search(query, "typo_match")


# ---------------------------------------------------------------- diff

def _f32_list(s: str) -> list:
    """A float32 array cell rendered as a string, back as Python floats."""
    return [float(np.float32(x)) for x in json.loads(s)]


def _dict_from_report(rows) -> dict:
    out = {"appended": [], "popped": [], "updated": {}}
    for r in rows:
        if r["kind"] == "updated":
            out["updated"].setdefault(r["tensor"], []).append({
                "_uuid": r["_uuid"], "index": r["index"],
                "old_value": _f32_list(r["old_value"]),
                "new_value": _f32_list(r["new_value"]),
            })
        else:
            out[r["kind"]].append(r["_uuid"])
    out["appended"].sort()
    out["popped"].sort()
    for recs in out["updated"].values():
        recs.sort(key=lambda rec: rec["index"])
    return out


def test_dict_diff_matches_report(spark, tmp_path):
    ds = _build(spark, str(tmp_path / "ds"), 50)
    ds.checkout("b", create=True)
    ds.extend({"rid": [50], "text": ["new"], "emb": _vecs(1, seed=9)})
    ds.pop(3)
    ds.emb[10] = [0.5] * DIM
    ds.commit("append, pop, update")
    got = ds.diff("b", "main")
    want = _dict_from_report(ds.diff("b", "main", as_dict=False)["b"].collect())
    assert got["b"] == want
    assert len(want["appended"]) == len(want["popped"]) == 1
    assert list(want["updated"]) == ["emb"]
    assert got["main"] == {"appended": [], "popped": [], "updated": {}}


# ---------------------------------------------------------------- job budgets

def test_write_path_job_budgets(spark, tmp_path, jobs_of):
    """Upper bounds on the Spark jobs of each write-path call, measured on
    this 340-row table: a checkout reads with the committed schema (no
    inference job), a diff side equal to the LCA runs nothing, the other
    side is one collect, the merge writes from its cached join, and both
    index refreshes touch only the appended rows."""
    ds = _build(spark, str(tmp_path / "ds"), 300)
    ds.create_index_vectorized("text", positions=True)
    ds.create_vector_index("emb", index_type="IVF", nlist=4)
    ds.load_vector_index("emb")

    assert jobs_of(lambda: ds.checkout("feature", create=True)) == 0
    ds.extend({"rid": list(range(300, 340)), "text": [_text(i) for i in range(300, 340)],
               "emb": _vecs(40, seed=2)})
    ds.commit("append")
    assert jobs_of(lambda: ds.update_index("text")) <= 11
    assert jobs_of(lambda: ds.update_vector_index("emb")) <= 3
    assert ds.list_indexes()["emb"]["vector/default"]["fresh"]

    assert jobs_of(lambda: ds.checkout("main")) == 0
    for row in (1, 5, 9):
        ds[row] = {"rid": 1000 + row}
    ds.commit("update")
    head = ds.commit_id
    assert jobs_of(lambda: ds.merge("feature")) <= 15
    assert jobs_of(lambda: ds.diff(head, head)) == 0
    out = {}
    assert jobs_of(lambda: out.update(ds.diff(head))) <= 3
    assert out[head] == {"appended": [], "popped": [], "updated": {}}
    assert len(out["HEAD"]["appended"]) == 40
    assert not out["HEAD"]["popped"] and not out["HEAD"]["updated"]

"""Sharded inverted index as parquet posting tables.

Spark-first re-expression of the reference's hybrid full-text engine
(``muller/core/query/inverted_index_vectorized.py:206-310`` build,
``:617-758`` search, ``:122-158`` tokenizer):

- **build**: tokenize (regex word-split, case-fold, stop words; jieba for
  CJK when importable — same tokenizer family as the reference's
  jieba+whitespace) → ``explode`` → distinct ``(term, id)`` posting ROWS,
  written as parquet partitioned by
  ``shard = pmod(xxhash64(term), num_shards)`` and sorted by
  ``(term, id)`` within each shard file (RLE-friendly, and a hot term's
  ids delta-encode).  The reference's multiprocess batch/shard build
  (``num_of_batches``/``num_of_shards``) maps 1:1 onto Spark partitions;
  shard-pruned term lookups come free from parquet partition pruning on
  ``shard``.  Postings are deliberately NOT ``collect_set`` arrays: a
  stop-word-like term appearing in half the corpus would become one
  unbounded array in one row in one task — the exact skew/OOM the
  reference shards to avoid.  Plain rows keep every task bounded no
  matter how hot a term is; term frequency is a count aggregate computed
  where needed (``add_hot_shard``), never stored state.
- **search**: ``exact_match`` (whole cell), ``fuzzy_match`` (AND of query
  terms — intersect posting lists via groupBy/count), ``complex_fuzzy``
  (``"a||b"`` = OR over AND-groups), ``range_match`` (keys in [lo, hi],
  inclusive — reference ``:1230-1239``).  All return a DataFrame of row
  ids, usable as a semi-join against the base table.
- **staleness**: the manifest records the dataset commit id; searches
  against a moved HEAD fall back to scan (reference
  ``filter_vectorized.py:476-492``).

Scalar (non-text) tensors are indexed by value string, mirroring the
reference's hashed-scalar postings (``:169-180``).
"""

from __future__ import annotations

import json
import os
import re
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from muller_spark.errors import MullerSparkError
from muller_spark.fs import get_fs
from muller_spark.plans.conditions import TOKEN_SPLIT_REGEX
from muller_spark.schema import ROW_ID_COL

_JIEBA = None


def _get_jieba():
    global _JIEBA
    if _JIEBA is None:
        try:
            import jieba  # type: ignore

            _JIEBA = jieba
        except ImportError:
            _JIEBA = False
    return _JIEBA


def tokenize_py(text: str, case_sensitive: bool = False,
                stop_words: frozenset | None = None) -> list[str]:
    """Driver/executor-side tokenizer for query strings (and jieba parity
    when available)."""
    # not `is None`: Arrow-backed pandas delivers string nulls as pd.NA
    # (and plain pandas sometimes as float NaN), which would reach
    # .lower() and crash the whole index-build task
    if not isinstance(text, str):
        return []
    if not case_sensitive:
        text = text.lower()
    split_re = TOKEN_SPLIT_REGEX
    if case_sensitive:
        from muller_spark.plans.conditions import TOKEN_SPLIT_REGEX_CS

        split_re = TOKEN_SPLIT_REGEX_CS
    jieba = _get_jieba()
    if re.search(r"[一-鿿]", text):
        if jieba:
            toks = [t.strip() for t in jieba.cut(text) if t.strip()]
        else:
            # vendored forward-maximum-match segmenter (index/cjk.py):
            # deterministic dictionary longest-match, the same family as
            # the reference's jieba path — NOT whole-run blocks, so a
            # two-character query term matches inside a sentence
            from muller_spark.index.cjk import cut_mixed

            toks = [t.strip() for t in cut_mixed(text, split_re) if t.strip()]
    else:
        toks = [t for t in re.split(split_re, text) if t]
    if stop_words:
        toks = [t for t in toks if t not in stop_words]
    return toks


def _posting_rows(
    df: DataFrame,
    tensor: str,
    id_col: str,
    case_sensitive: bool,
    stop_words: Sequence[str] | None,
    is_text: bool,
    positions: bool,
) -> "tuple[DataFrame, bool]":
    """Tokenize ``tensor`` into posting rows ``(id, term)`` — distinct
    pairs — or, positional, ``(id, pos, term)`` (unique by construction:
    one per token slot).  Also returns whether the CJK tokenizer ran."""
    col = F.col(tensor)
    if is_text:
        # one bounded probe job decides the tokenizer for the whole
        # build: pure regex split stays JVM-side (the fast path);
        # corpora containing CJK route through the Arrow-batched
        # Python tokenizer so index-side and query-side tokens agree
        # (tokenize_py is used for both)
        has_cjk = bool(df.filter(col.rlike("[一-鿿㐀-䶿]")).limit(1).take(1))
        if has_cjk:
            from pyspark.sql.types import ArrayType, StringType

            stop_set = frozenset(stop_words) if stop_words else None
            # lambda (not a hinted def): stringified hints from
            # `from __future__ import annotations` are unsupported
            # by pandas_udf signature inference in pyspark 4.1
            tok_udf = F.pandas_udf(
                lambda batch: batch.map(
                    lambda t: tokenize_py(
                        t, case_sensitive=case_sensitive, stop_words=stop_set
                    )
                ),
                ArrayType(StringType()),
            )
            tok_arr = tok_udf(col)
            if positions:
                exploded = df.select(
                    F.col(id_col).alias("id"),
                    F.posexplode(tok_arr).alias("pos", "term"),
                ).filter(F.col("term") != "")
            else:
                exploded = (
                    df.select(
                        F.col(id_col).alias("id"),
                        F.explode(tok_arr).alias("term"),
                    )
                    .filter(F.col("term") != "")
                )
        else:
            from muller_spark.plans.conditions import TOKEN_SPLIT_REGEX_CS

            if case_sensitive:
                base, split_re = col, TOKEN_SPLIT_REGEX_CS
            else:
                base, split_re = F.lower(col), TOKEN_SPLIT_REGEX
            terms = F.split(base, split_re)
            if positions:
                # positions index the FILTERED token stream (empties
                # and stop words removed before numbering), matching
                # the query-side tokenize_py stream — adjacency is
                # over surviving tokens on both sides
                kept = F.filter(terms, lambda t: t != "")
                if stop_words:
                    stop_arr = F.array(*[F.lit(w) for w in stop_words])
                    kept = F.filter(
                        kept, lambda t: ~F.array_contains(stop_arr, t)
                    )
                exploded = df.select(
                    F.col(id_col).alias("id"),
                    F.posexplode(kept).alias("pos", "term"),
                )
            else:
                exploded = (
                    df.select(
                        F.col(id_col).alias("id"),
                        F.explode(terms).alias("term"),
                    )
                    .filter(F.col("term") != "")
                )
                if stop_words:
                    exploded = exploded.filter(
                        ~F.col("term").isin(list(stop_words))
                    )
    else:
        has_cjk = False
        # scalar index: one "term" per cell, the string form of the value
        exploded = df.select(
            F.col(id_col).alias("id"), col.cast("string").alias("term")
        ).filter(F.col("term").isNotNull())

    if not positions:
        exploded = exploded.distinct()  # one (term, id) row per pair
    return exploded, has_cjk


class InvertedIndex:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self.fs = get_fs(path)
        self._manifest: dict | None = None
        # memoized lazy table plans (round 13, guide §2.4): every
        # spark.read.parquet call schedules a footer/schema-inference
        # job, which on the warm lookup path was one job per search
        # just to re-learn an unchanged schema.  Plans are lazy, so
        # reuse is safe; every in-instance mutation (update, swap,
        # reshard, typo-key rewrite) calls _invalidate_reads().
        # External writers are excluded by the single-writer contract.
        self._postings_df: DataFrame | None = None
        self._typo_keys_df: DataFrame | None = None

    def _invalidate_reads(self) -> None:
        self._postings_df = None
        self._typo_keys_df = None

    # -- build -----------------------------------------------------------
    @classmethod
    def build(
        cls,
        df: DataFrame,
        tensor: str,
        path: str,
        id_col: str = ROW_ID_COL,
        index_type: str = "fuzzy_match",
        num_shards: int = 8,
        case_sensitive: bool = False,
        stop_words: Sequence[str] | None = None,
        commit_id: str | None = None,
        is_text: bool = True,
        positions: bool = False,
        typo_keys: "int | None" = None,
    ) -> "InvertedIndex":
        spark = df.sparkSession
        exploded, has_cjk = _posting_rows(
            df, tensor, id_col, case_sensitive, stop_words, is_text, positions
        )
        postings = (
            exploded
            .withColumn("shard", F.pmod(F.xxhash64("term"), F.lit(num_shards)))
            .repartition(num_shards, "shard")
            .sortWithinPartitions("term", "id")
        )
        postings.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(path, "postings")
        )
        # metadata-only count (parquet row-group stats): recorded in the
        # manifest so consumers (the aggregate count fast path's totality
        # check) never re-scan the posting table at plan time
        n_postings = int(
            spark.read.parquet(os.path.join(path, "postings")).count()
        )
        manifest = {
            "n_postings": n_postings,
            "tensor": tensor,
            "id_col": id_col,
            "index_type": index_type,
            "num_shards": num_shards,
            "case_sensitive": case_sensitive,
            "stop_words": sorted(stop_words) if stop_words else [],
            "commit_id": commit_id,
            "is_text": is_text,
            "tokenizer": ("cjk_fmm" if has_cjk else "regex") if is_text else "scalar",
            "positions": bool(positions),
        }
        fs = get_fs(path)
        fs.makedirs(path)
        fs.write_text(os.path.join(path, "manifest.json"), json.dumps(manifest))
        out = cls(spark, path)
        out._manifest = manifest
        if positions:
            out._write_docstats()
        if typo_keys:
            out.enable_typo_match(max_edits=int(typo_keys))
        return out

    @property
    def manifest(self) -> dict:
        if self._manifest is None:
            self._manifest = json.loads(
                self.fs.read_text(os.path.join(self.path, "manifest.json"))
            )
        return self._manifest

    def _postings(self) -> DataFrame:
        if self._postings_df is None:
            self._postings_df = self.spark.read.parquet(
                os.path.join(self.path, "postings")
            )
        return self._postings_df

    def _typo_keys(self) -> DataFrame:
        if self._typo_keys_df is None:
            self._typo_keys_df = self.spark.read.parquet(
                os.path.join(self.path, "typo_keys")
            )
        return self._typo_keys_df

    # -- search ----------------------------------------------------------
    def search(self, query, search_type: str = "fuzzy_match",
               max_edits: "int | None" = None) -> DataFrame:
        """Returns a DataFrame with a single ``id`` column of matches.
        ``search_type='typo_match'`` is AND-of-terms like
        ``fuzzy_match`` but tolerates up to ``max_edits`` Levenshtein
        edits per query token (default: the key table's depth) —
        requires typo keys (``build(..., typo_keys=d)`` or
        :meth:`enable_typo_match`)."""
        if search_type == "exact_match":
            return self._exact(query)
        if search_type == "fuzzy_match":
            return self._fuzzy(query)
        if search_type == "typo_match":
            return self._typo(query, max_edits)
        if search_type == "complex_fuzzy_match":
            return self._complex(query)
        if search_type == "range_match":
            lo, hi = query
            return self._range(lo, hi)
        if search_type == "phrase_match":
            return self._phrase(query)
        raise ValueError(f"unknown search_type {search_type!r}")

    def _phrase(self, query: str) -> DataFrame:
        """Exact token-adjacency phrase match over a positional index:
        document matches iff tokens of ``query`` appear consecutively
        (in the post-filter token stream).  Each term's postings are
        shard-pruned reads; the phrase is an AND of k joins on
        (id, pos - offset) — candidate sets shrink with every join, so
        the plan is bounded by the rarest term's posting list."""
        if not self.manifest.get("positions"):
            raise ValueError(
                "phrase_match needs a positional index: build with "
                "positions=True"
            )
        terms = self._terms_of(query)
        if not terms:
            return self.spark.createDataFrame([], "id long")
        posts = self._lookup_terms(terms)
        anchored = None
        for i, t in enumerate(terms):
            side = (
                posts.filter(F.col("term") == t)
                .select("id", (F.col("pos") - F.lit(i)).alias("base"))
                .alias(f"t{i}")
            )
            anchored = side if anchored is None else anchored.join(
                side, ["id", "base"]
            )
        return anchored.select("id").distinct()

    def bm25(
        self,
        query: str,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        round_to: int = 5,
    ) -> DataFrame:
        """BM25 ranked retrieval over the positional posting table —
        the ranking extension the reference's unranked fuzzy search
        lacks (``inverted_index_vectorized.py`` returns id sets only).
        Classic Robertson/Lucene formulation per matched term:

        ``idf = ln((N − df + 0.5)/(df + 0.5) + 1)``
        ``w = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``

        with tf the (term, doc) frequency (count of position rows), dl
        the document's post-filter token count, N/avgdl corpus stats
        from the same postings.  Returns the top-``k``
        ``(id, score)`` ordered score-desc / id-asc; score is rounded
        (ln is transcendental — same round5 discipline as the LM
        scores) so cross-engine value hashes match.

        Scale shape: the query terms' postings are shard-pruned reads
        (``_lookup_terms``); tf/df frames are bounded by docs that
        contain a query term and broadcast into the doc-length frame;
        the final top-k plans as TakeOrderedAndProject.  Doc lengths
        come from the narrow ``docstats`` (id, dl) table persisted at
        build/update time (``_write_docstats``), so a query touches
        only the query terms' shards plus that table — never a full
        posting scan; indexes built before docstats existed fall back
        to computing it on the fly."""
        if not self.manifest.get("positions"):
            raise ValueError(
                "bm25 needs a positional index (tf = count of position "
                "rows): build with positions=True"
            )
        terms = self._terms_of(query)
        if not terms:
            return self.spark.createDataFrame([], "id long, score double")
        dl = self._docstats()
        stats = dl.agg(
            F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
        )
        tf = (
            self._lookup_terms(list(dict.fromkeys(terms)))
            .groupBy("id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        # tf is bounded by docs CONTAINING a query term — for a frequent
        # term over a large corpus that's unbounded, so no forced
        # broadcast (maybe_broadcast with no proven bound = let AQE pick
        # from runtime size).  dfreq (≤ #query terms) and stats (1 row)
        # are provably tiny and keep their hints.
        from muller_spark.operators.joins import maybe_broadcast

        scored = (
            dl.join(maybe_broadcast(tf), "id")
            .join(maybe_broadcast(dfreq, bound=len(terms)), "term")
            .crossJoin(F.broadcast(stats))
        )
        idf = F.log(
            (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        w = idf * (F.col("tf") * (k1 + 1)) / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
        # term-ascending ordered fold, not F.sum: with 3+ matched terms
        # an unordered double sum is partition-order-dependent in the
        # last ulp, which can flip the round5 value and the top-k
        # boundary across engines/partitionings (same discipline as
        # rrf_fuse and the mixture normalizer; the SQL oracle folds
        # list(w ORDER BY term) identically)
        return (
            scored.groupBy("id")
            .agg(
                F.round(
                    F.aggregate(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("term"), w.alias("w")))
                        ),
                        F.lit(0.0),
                        lambda acc, s: acc + s["w"],
                    ),
                    round_to,
                ).alias("score")
            )
            .orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(k)
        )

    def _docstats_path(self) -> str:
        return os.path.join(self.path, "docstats")

    def _write_docstats(self) -> None:
        """Persist per-document post-filter token counts (id, dl) next
        to the postings — one aggregate at build/update time so BM25
        serving never re-scans the posting table for corpus stats.
        Maintenance ops that only re-bucket rows (reshard, hot shards,
        optimize) leave (term, id, pos) contents unchanged, so the
        stats stay valid without a rewrite."""
        stats_new = self._docstats_path() + "_new"
        (
            self._postings()
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("dl"))
            .write.mode("overwrite")
            .parquet(stats_new)
        )
        final = self._docstats_path()
        if self.fs.isdir(final):
            self.fs.rmtree(final)
        self.fs.rename(stats_new, final)

    def _docstats(self) -> DataFrame:
        """(id, dl) frame for BM25 — the persisted table when present,
        else computed from the postings (indexes built before docstats
        existed)."""
        if self.fs.isdir(self._docstats_path()):
            return self.spark.read.parquet(self._docstats_path())
        return self._postings().groupBy("id").agg(
            F.count(F.lit(1)).alias("dl")
        )

    def _terms_of(self, query: str) -> list[str]:
        m = self.manifest
        return tokenize_py(
            query,
            case_sensitive=m["case_sensitive"],
            stop_words=frozenset(m["stop_words"]) or None,
        )

    def _hot_postings(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "postings_hot"))

    def _lookup_terms(self, terms: list[str]) -> DataFrame:
        """Posting rows for the given terms; shard pruning via the
        partition column keeps this a K-partition read, not a full scan.
        Terms materialized in the hot shard (manifest-routed, see
        ``add_hot_shard``) read the small dedicated table instead."""
        cols = (
            ["term", "id", "pos"] if self.manifest.get("positions")
            else ["term", "id"]
        )
        hot_set = set(self.manifest.get("hot_terms") or [])
        hot = [t for t in terms if t in hot_set]
        cold = [t for t in terms if t not in hot_set]
        parts = []
        if hot:
            parts.append(
                self._hot_postings().filter(F.col("term").isin(hot))
                .select(*cols)
            )
        if cold:
            from muller_spark.xxh64 import shard_of

            num_shards = self.manifest["num_shards"]
            p = self._postings()
            # shard routing computed on the DRIVER (xxh64 twin pinned
            # bit-equal to F.xxhash64 by test): the probe terms are
            # already driver-side strings, so the LocalRelation →
            # distinct → collect job this used to schedule was pure
            # scheduling latency on every warm lookup (guide §2.4)
            shard_vals = sorted({shard_of(t, num_shards) for t in cold})
            terms_df = self.spark.createDataFrame(
                [(t,) for t in cold], ["term"]
            )
            parts.append(
                p.filter(F.col("shard").isin(shard_vals))
                .join(F.broadcast(terms_df), "term", "inner")
                .select(*cols)
            )
        if not parts:
            return self.spark.createDataFrame(
                [], "term string, id long, pos int"
                if self.manifest.get("positions") else "term string, id long"
            )
        out = parts[0]
        for extra in parts[1:]:
            out = out.unionByName(extra)
        return out

    def _fuzzy(self, query: str) -> DataFrame:
        terms = self._terms_of(query)
        if not terms:
            return self.spark.createDataFrame([], "id long")
        hits = self._lookup_terms(terms)
        uniq = sorted(set(terms))
        if len(uniq) > 63:
            # bitmask would overflow a long: keep the distinct aggregate
            return (
                hits.groupBy("id")
                .agg(F.countDistinct("term").alias("nt"))
                .filter(F.col("nt") == len(uniq))
                .select("id")
            )
        # AND-of-terms as one bit_or aggregate (round 13): term → bit is
        # a tiny driver-built CASE, so the two-phase countDistinct
        # exchange collapses to a single exchange on id — identical
        # semantics (OR of bits full ⟺ every distinct term present)
        bit = F.lit(None).cast("long")
        for i, t in enumerate(uniq):
            bit = F.when(F.col("term") == t, F.lit(1 << i)).otherwise(bit)
        full = (1 << len(uniq)) - 1
        return (
            hits.select("id", bit.alias("_b"))
            .groupBy("id")
            .agg(F.bit_or("_b").alias("_m"))
            .filter(F.col("_m") == full)
            .select("id")
        )

    # -- typo tolerance (round-12, VERDICT r11 #5) -------------------------

    # loud bound on the verified candidate-term collect: deletion
    # neighborhoods are tiny in practice (tens of terms per probe), but a
    # pathological vocabulary dense around very short probes could blow
    # the driver-side grouping — refuse instead of OOMing
    _TYPO_CANDIDATE_CAP = 50_000

    def enable_typo_match(self, max_edits: int = 1,
                          max_token_len: int = 24) -> "InvertedIndex":
        """Build the SymSpell deletion-key table from THIS index's own
        term dictionary, enabling ``search(..., 'typo_match')`` — the
        typo-tolerant twin of the reference's AND-of-terms fuzzy search
        (``muller/core/query/inverted_index_vectorized.py:741-758``,
        which has no edit tolerance anywhere).

        Layout: ``<index>/typo_keys`` parquet ``(term, k)`` partitioned
        by ``kshard = pmod(xxhash64(k), num_shards)`` — probe lookups
        prune to the probe keys' shards exactly like posting lookups.
        Terms longer than ``max_token_len`` contribute only their
        identity key (they can still be matched exactly, never fuzzily
        — the depth-2 fan-out is quadratic in token length, so the cap
        is the documented cost bound, same contract as
        ``index/fuzzy.py``).  The manifest records the key table's
        geometry AND the posting count it was derived from — the
        staleness contract ``typo_match`` checks (``update`` refreshes
        the keys, so staleness only means out-of-band tampering)."""
        if max_edits not in (1, 2):
            raise ValueError(
                f"typo keys support max_edits in (1, 2); got {max_edits}"
            )
        m = dict(self.manifest)
        self._write_typo_keys(max_edits, max_token_len, m["num_shards"])
        m["typo_keys"] = {
            "max_edits": int(max_edits),
            "max_token_len": int(max_token_len),
            "n_postings": m["n_postings"],
        }
        self.fs.write_text(
            os.path.join(self.path, "manifest.json"), json.dumps(m)
        )
        self._manifest = m
        return self

    def _write_typo_keys(self, max_edits: int, max_token_len: int,
                         num_shards: int) -> None:
        from muller_spark.index.fuzzy import _keys_col

        terms = self._postings().select("term").distinct()
        keys = terms.select(
            "term",
            F.explode(
                F.when(
                    F.length("term") <= max_token_len,
                    _keys_col(F.col("term"), max_edits),
                ).otherwise(F.array(F.col("term")))
            ).alias("k"),
        ).withColumn("kshard", F.pmod(F.xxhash64("k"), F.lit(num_shards)))
        out_path = os.path.join(self.path, "typo_keys_new")
        (
            keys.repartition(num_shards, "kshard")
            .sortWithinPartitions("k", "term")
            .write.mode("overwrite")
            .partitionBy("kshard")
            .parquet(out_path)
        )
        live = os.path.join(self.path, "typo_keys")
        if self.fs.exists(live):
            self.fs.rmtree(live)
        self.fs.rename(out_path, live)
        self._invalidate_reads()

    def _typo(self, query: str, max_edits: "int | None" = None) -> DataFrame:
        """AND-of-query-tokens with per-token Levenshtein tolerance: a
        document matches iff for EVERY query token it contains at least
        one vocabulary term within ``max_edits`` of it.  Plan: driver-
        side probe keys (tiny) → kshard-pruned key-table join → exact
        Levenshtein verify on the candidate sliver → bounded collect of
        the (token, term) map → shard-pruned posting lookup of the
        candidate terms only.  Never scans the posting table, never
        joins vocabulary × probes."""
        from muller_spark.index.fuzzy import deletion_keys

        m = self.manifest
        tk = m.get("typo_keys")
        if not tk:
            raise MullerSparkError(
                "typo_match needs a deletion-key table: build the index "
                "with typo_keys=1 (or 2), or call enable_typo_match()"
            )
        if tk["n_postings"] != m["n_postings"]:
            raise MullerSparkError(
                "typo keys are stale (built over "
                f"{tk['n_postings']} postings, index now has "
                f"{m['n_postings']}): call enable_typo_match() to refresh"
            )
        d = tk["max_edits"] if max_edits is None else int(max_edits)
        if d > tk["max_edits"]:
            raise ValueError(
                f"max_edits={d} exceeds the key table depth "
                f"{tk['max_edits']}; rebuild with enable_typo_match("
                f"max_edits={d})"
            )
        tokens = self._terms_of(query)
        if not tokens:
            return self.spark.createDataFrame([], "id long")
        qset = sorted(set(tokens))
        probe_rows = [
            (t, k) for t in qset for k in deletion_keys(t, d)
        ]
        from muller_spark.xxh64 import shard_of

        probes = self.spark.createDataFrame(probe_rows, "qt string, k string")
        num_shards = m["num_shards"]
        # driver-side kshard routing (bit-equal xxh64 twin; see
        # _lookup_terms) — the probe keys are driver-side strings, so
        # no job is scheduled to learn which shards to read
        shard_vals = sorted({shard_of(k, num_shards) for _, k in probe_rows})
        keys = self._typo_keys()
        # no distinct on the common path (round 13): a term sharing k
        # deletion keys with a probe token comes back as k rows, and the
        # driver dedups the (qt, term) pairs below.  The cap bounds the
        # DEDUPLICATED pairs: only when the raw rows overflow it does a
        # distinct pass recount them.
        cand = (
            keys.filter(F.col("kshard").isin(shard_vals))
            .join(F.broadcast(probes), "k")
            .select("qt", "term")
            .where(F.levenshtein(F.col("term"), F.col("qt")) <= d)
        )
        cap = self._TYPO_CANDIDATE_CAP
        cand_rows = cand.limit(cap + 1).collect()
        if len(cand_rows) > cap:
            cand_rows = cand.distinct().limit(cap + 1).collect()
        if len(cand_rows) > cap:
            raise MullerSparkError(
                f"typo_match candidate set exceeds {cap} (query tokens "
                "too short/dense for this vocabulary); tighten the query "
                "or lower max_edits"
            )
        per_qt: dict = {}
        for r in cand_rows:
            per_qt.setdefault(r["qt"], set()).add(r["term"])
        if len(per_qt) < len(qset):
            # some query token has NO in-tolerance vocabulary term:
            # AND-of-tokens can never hold
            return self.spark.createDataFrame([], "id long")
        all_terms = sorted({t for ts in per_qt.values() for t in ts})
        hits = self._lookup_terms(all_terms).select("term", "id")
        if len(qset) > 63:
            # a bitmask would overflow a long: keep the distinct
            # aggregate, as _fuzzy does
            mapping = self.spark.createDataFrame(
                sorted((t, qt) for qt, ts in per_qt.items() for t in ts),
                "term string, qt string",
            )
            return (
                hits.join(F.broadcast(mapping), "term")
                .groupBy("id")
                .agg(F.countDistinct("qt").alias("nq"))
                .filter(F.col("nq") == len(qset))
                .select("id")
            )
        # AND-of-query-tokens as ONE bit_or aggregate (round 13): each
        # candidate term carries the bitmask of query tokens it covers
        # (a term can sit within tolerance of several), and a document
        # matches iff the OR of its terms' masks is full — identical to
        # countDistinct(qt) == len(qset), one exchange instead of the
        # two-phase distinct aggregate.
        qbit = {qt: 1 << i for i, qt in enumerate(qset)}
        term_mask: dict = {}
        for qt, ts in per_qt.items():
            for t in ts:
                term_mask[t] = term_mask.get(t, 0) | qbit[qt]
        mapping = self.spark.createDataFrame(
            sorted(term_mask.items()), "term string, qtmask long",
        )
        full = (1 << len(qset)) - 1
        return (
            hits.join(F.broadcast(mapping), "term")
            .groupBy("id")
            .agg(F.bit_or("qtmask").alias("_m"))
            .filter(F.col("_m") == full)
            .select("id")
        )

    def _complex(self, query: str) -> DataFrame:
        parts = [p for p in query.split("||") if p.strip()]
        out = None
        for part in parts:
            cur = self._fuzzy(part)
            out = cur if out is None else out.union(cur)
        if out is None:
            return self.spark.createDataFrame([], "id long")
        return out.distinct()

    def _exact(self, query) -> DataFrame:
        from muller_spark.xxh64 import shard_of

        p = self._postings()
        term = str(query) if not self.manifest["is_text"] else (
            query if self.manifest["case_sensitive"] else str(query).lower()
        )
        # driver-side shard math (bit-equal xxh64 twin; see _lookup_terms)
        shard = shard_of(term, self.manifest["num_shards"])
        return (
            p.filter((F.col("shard") == shard) & (F.col("term") == term))
            .select("id")
            .distinct()
        )

    def update(self, df: DataFrame, commit_id: str | None = None) -> "InvertedIndex":
        """Incremental maintenance after append-only commits (reference
        ``update_index``, ``inverted_index_vectorized.py:397``): tokenize
        only the delta rows, union their posting rows into the existing
        table, rewrite.  The delta is usually tiny relative to the corpus,
        so the merge shuffles O(delta terms), not the full posting table
        row count."""
        m = dict(self.manifest)
        delta, _ = _posting_rows(
            df, m["tensor"], m["id_col"], m["case_sensitive"],
            m["stop_words"] or None, m["is_text"], m.get("positions", False),
        )
        cols = ["term", "id", "pos"] if m.get("positions") else ["term", "id"]
        merged = (
            self._postings().select(*cols)
            .unionByName(delta.select(*cols))
            .distinct()  # row-level merge: no per-term array ever materializes
            .withColumn("shard", F.pmod(F.xxhash64("term"), F.lit(m["num_shards"])))
            .repartition(m["num_shards"], "shard")
            .sortWithinPartitions("term", "id")
        )
        out_path = os.path.join(self.path, "postings_new")
        merged.write.mode("overwrite").partitionBy("shard").parquet(out_path)
        old = os.path.join(self.path, "postings")
        self.fs.rmtree(old)
        self.fs.rename(out_path, old)
        self._invalidate_reads()
        # the table just written has the merge's schema: no inference job
        self._postings_df = self.spark.read.schema(merged.schema).parquet(old)
        if m.get("positions"):
            # refresh docstats BEFORE the fresh manifest lands: a crash
            # in between leaves old-manifest + new-stats (harmlessly
            # re-derivable), never fresh-looking metadata over stale
            # stats that would silently drop the delta docs from BM25
            self._write_docstats()
        m["commit_id"] = commit_id
        m["n_postings"] = int(self._postings().count())
        if m.get("typo_keys"):
            # the deletion-key table derives from the term dictionary —
            # refresh it from the merged postings and re-pin the count
            # (staleness contract: typo_keys.n_postings == n_postings)
            tk = m["typo_keys"]
            self._write_typo_keys(
                tk["max_edits"], tk["max_token_len"], m["num_shards"]
            )
            m["typo_keys"] = dict(tk, n_postings=m["n_postings"])
        self.fs.write_text(os.path.join(self.path, "manifest.json"), json.dumps(m))
        self._manifest = m
        if m.get("hot_terms"):
            # hot-shard postings are a copy — refresh them from the merge
            self.add_hot_shard(len(m["hot_terms"]))
        return self

    # -- maintenance -----------------------------------------------------
    def _swap_postings(self, new_postings: DataFrame, manifest_updates: dict) -> None:
        """Write a replacement posting table atomically-ish (write to a
        sibling dir, then rename over the old one) and persist manifest
        changes."""
        out_path = os.path.join(self.path, "postings_new")
        new_postings.write.mode("overwrite").partitionBy("shard").parquet(out_path)
        old = os.path.join(self.path, "postings")
        self.fs.rmtree(old)
        self.fs.rename(out_path, old)
        self._invalidate_reads()
        m = dict(self.manifest)
        m.update(manifest_updates)
        m["n_postings"] = int(self.spark.read.parquet(old).count())
        self.fs.write_text(os.path.join(self.path, "manifest.json"), json.dumps(m))
        self._manifest = m

    def reshard(self, num_shards: int) -> "InvertedIndex":
        """Re-bucket the posting table into a new shard count (reference
        ``reshard_index``, ``inverted_index_vectorized.py:526``) without
        re-tokenizing the corpus: one keyed shuffle of the posting rows,
        O(terms), independent of corpus size."""
        p = (
            self._postings().drop("shard")
            .withColumn("shard", F.pmod(F.xxhash64("term"), F.lit(num_shards)))
            .repartition(num_shards, "shard")
            .sortWithinPartitions("term", "id")
        )
        self._swap_postings(p, {"num_shards": num_shards})
        return self

    def optimize(self) -> "InvertedIndex":
        """Compact each shard to one parquet file (reference
        ``optimize_index``, ``inverted_index_vectorized.py:313``) —
        incremental ``update`` calls and wide builds leave many small
        files per shard; lookups then open O(files) footers instead of
        O(1)."""
        m = self.manifest
        p = (
            self._postings()
            .repartition(int(m["num_shards"]), "shard")
            .sortWithinPartitions("term", "id")
        )
        self._swap_postings(p, {})
        return self

    def add_hot_shard(self, top_n: int = 100) -> "InvertedIndex":
        """Materialize the ``top_n`` highest-frequency terms into a
        dedicated un-sharded posting table probed first at query time
        (reference ``add_hot_shard``, ``inverted_index_vectorized.py:537``).
        The hot term list itself lives in the manifest, so routing is a
        driver-side set lookup — zero extra jobs for cold terms."""
        p = self._postings()
        hot_terms = (
            p.groupBy("term")
            .agg(F.count(F.lit(1)).alias("freq"))  # map-side partial count
            .orderBy(F.col("freq").desc(), F.col("term"))
            .limit(int(top_n))
            .select("term")
        )
        cols = (
            ["term", "id", "pos"] if self.manifest.get("positions")
            else ["term", "id"]
        )
        hot = p.join(F.broadcast(hot_terms), "term", "inner").select(*cols)
        hot_path = os.path.join(self.path, "postings_hot")
        hot.write.mode("overwrite").parquet(hot_path)
        terms = [r["term"] for r in hot_terms.collect()]
        m = dict(self.manifest)
        m["hot_terms"] = sorted(terms)
        self.fs.write_text(os.path.join(self.path, "manifest.json"), json.dumps(m))
        self._manifest = m
        return self

    def _range(self, lo, hi) -> DataFrame:
        """Inclusive range over scalar index keys (reference
        ``inverted_index_vectorized.py:1230-1239``)."""
        p = self._postings()
        key = F.col("term").cast("double")
        return (
            p.filter(key.isNotNull() & key.between(float(lo), float(hi)))
            .select("id")
            .distinct()
        )

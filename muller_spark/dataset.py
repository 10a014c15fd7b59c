"""Dataset facade: a versioned table of tensors over (DataFrame, commit log).

Re-expresses the reference's ``Dataset`` (``muller/core/dataset/dataset.py:114``)
Spark-first: columnar chunk storage becomes parquet snapshot directories,
the chunk engine becomes ``spark.read.parquet``, and every mutation is a
DataFrame transformation that lands as a copy-on-write snapshot at
``commit()`` (appends are incremental delta directories — O(appended)
bytes, like the reference's per-commit chunk maps).

Row identity (SURVEY §1.1): every row carries
- ``_uuid``  — stable 64-bit id allocated at append, merge/diff key
  (reference ``crud_operations.py:407``, ``uuid/shard_hash.py:36``)
- ``_row_id`` — 0-based position in commit order; pops renumber it
  (reference addresses rows positionally: ``pop(0)``, ``labels[3]=30``)

Scale note: positional renumbering and small-append staging use a
single window; at 100 TB scale appends arrive as DataFrames via
``extend_df`` and positions are assigned per-partition (offset +
partition-local index), never through a driver collect.
"""

from __future__ import annotations

import json
import os
from typing import Any, Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from muller_spark.errors import (
    CheckoutError,
    MergeConflictError,
    ReadOnlyModeError,
    TensorAlreadyExistsError,
    TensorDoesNotExistError,
)
from muller_spark.operators.aggregate import aggregate_vectorized, statistics
from muller_spark.plans.conditions import compile_conditions
from muller_spark.plans.query_string import compile_query_string
from muller_spark.schema import (
    HIDDEN_COLS,
    ROW_ID_COL,
    UUID_COL,
    needs_shape_companion,
    spark_type_for,
)
from muller_spark.versioning.log import FIRST_COMMIT, CommitLog, Snapshot


class TensorView:
    """Column accessor: ``ds.labels`` / ``ds['labels']``
    (reference ``muller/core/tensor.py:217``)."""

    def __init__(self, dataset: "Dataset", name: str) -> None:
        self._ds = dataset
        self.name = name

    def extend(self, values: Iterable[Any]) -> None:
        self._ds._extend_tensor(self.name, list(values))

    def append(self, value: Any) -> None:
        self.extend([value])

    def __setitem__(self, index: int, value: Any) -> None:
        self._ds._update_cell(self.name, index, value)

    def __getitem__(self, index):
        if isinstance(index, slice):
            vals = self._ds._column_values(self.name)
            return vals[index]
        return self._ds._column_values(self.name)[index]

    def numpy(self):
        import numpy as np

        return np.array(self._ds._column_values(self.name))

    def data(self) -> dict:
        return {"value": self._ds._column_values(self.name)}

    def text(self) -> list[str]:
        return [str(v) for v in self._ds._column_values(self.name)]

    def list(self) -> list:
        return self._ds._column_values(self.name)

    def __len__(self) -> int:
        return self._ds._tensor_length(self.name)


class Dataset:
    """A versioned, branch-addressable table."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        branch: str = "main",
        read_only: bool = False,
    ) -> None:
        self.spark = spark
        self.path = path
        self.read_only = read_only
        self.log = CommitLog(path)
        self.fs = self.log.fs  # metadata I/O seam (muller_spark/fs.py)
        if not self.log.exists():
            if read_only:
                raise ReadOnlyModeError(f"no dataset at {path}")
            self.log.init(schema_json=None, tensor_meta={})
        self.branch = branch
        # session cache of loaded vector indexes: (tensor, index_name) →
        # {"manifest": ..., "centroids": np.ndarray?}; survives checkouts
        self._vector_loaded: dict = {}
        self._load(self.log.resolve(branch))

    # ------------------------------------------------------------------
    # state loading
    # ------------------------------------------------------------------
    def _load(self, snap: Snapshot) -> None:
        self._snapshot = snap
        self.tensor_meta: dict[str, dict] = dict(snap.tensor_meta)
        self._next_uuid = snap.next_uuid
        self._work_df = self._read_snapshot_df(snap)
        self._committed_count = snap.row_count
        self._pending: dict[str, list] = {}
        self._rewrite_needed = False
        self._dirty = False

    def _empty_df(self, tensor_meta: dict | None = None) -> DataFrame:
        meta = tensor_meta if tensor_meta is not None else self.tensor_meta
        fields = [
            T.StructField(UUID_COL, T.LongType(), False),
            T.StructField(ROW_ID_COL, T.LongType(), False),
        ] + [
            T.StructField(name, spark_type_for(m.get("htype", "generic"), m.get("dtype")), True)
            for name, m in meta.items()
        ]
        return self.spark.createDataFrame([], T.StructType(fields))

    def _read_snapshot_df(self, snap: Snapshot) -> DataFrame:
        """Pure: materialize a snapshot's table state (no instance mutation)."""
        if not snap.data_dirs:
            return self._empty_df(dict(snap.tensor_meta))
        paths = [os.path.join(self.path, d) for d in snap.data_dirs]
        # read with the schema the commit recorded: inferring it (one
        # footer-reading job per read) would re-learn a known schema, and
        # a column an older data dir lacks still reads as NULL
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        df = self.spark.read.schema(schema).parquet(*paths)
        order = [UUID_COL, ROW_ID_COL] + [t for t in snap.tensor_meta]
        return df.select(*order)

    # ------------------------------------------------------------------
    # schema ops
    # ------------------------------------------------------------------
    @property
    def tensors(self) -> list[str]:
        return list(self.tensor_meta)

    def create_tensor(
        self,
        name: str,
        htype: str = "generic",
        dtype: str | None = None,
        **info: Any,
    ) -> TensorView:
        self._check_writable()
        if name in self.tensor_meta:
            raise TensorAlreadyExistsError(name)
        self._flush_pending()
        meta = {"htype": htype, "dtype": dtype, "info": info}
        self.tensor_meta[name] = meta
        self._work_df = self._work_df.withColumn(
            name, F.lit(None).cast(spark_type_for(htype, dtype))
        )
        if needs_shape_companion(htype):
            shape_col = f"_{name}_shape"
            self.tensor_meta[shape_col] = {"htype": "list", "dtype": None, "hidden": True}
            self._work_df = self._work_df.withColumn(
                shape_col, F.lit(None).cast(T.ArrayType(T.IntegerType()))
            )
        self._dirty = True
        self._rewrite_needed = self._committed_count > 0 or self._rewrite_needed
        return TensorView(self, name)

    def delete_tensor(self, name: str) -> None:
        self._check_writable()
        self._require_tensor(name)
        self._flush_pending()
        del self.tensor_meta[name]
        self._work_df = self._work_df.drop(name)
        shape_col = f"_{name}_shape"
        if shape_col in self.tensor_meta:
            del self.tensor_meta[shape_col]
            self._work_df = self._work_df.drop(shape_col)
        self._dirty = self._rewrite_needed = True

    def rename_tensor(self, name: str, new_name: str) -> None:
        self._check_writable()
        self._require_tensor(name)
        if new_name in self.tensor_meta:
            raise TensorAlreadyExistsError(new_name)
        self._flush_pending()
        self.tensor_meta = {
            (new_name if k == name else k): v for k, v in self.tensor_meta.items()
        }
        self._work_df = self._work_df.withColumnRenamed(name, new_name)
        self._dirty = self._rewrite_needed = True

    # ------------------------------------------------------------------
    # row CRUD
    # ------------------------------------------------------------------
    def append(self, sample: Mapping[str, Any]) -> None:
        self.extend({k: [v] for k, v in sample.items()})

    def extend(self, samples: Mapping[str, Sequence[Any]]) -> None:
        self._check_writable()
        for name, values in samples.items():
            self._extend_tensor(name, list(values))

    def _extend_tensor(self, name: str, values: list) -> None:
        self._check_writable()
        self._require_tensor(name)
        self._pending.setdefault(name, []).extend(values)
        self._dirty = True

    def extend_df(self, df: DataFrame) -> None:
        """Distributed append of a DataFrame (the 100 TB ingest path)."""
        self._check_writable()
        self._flush_pending()
        for col in df.columns:
            self._require_tensor(col)
        missing = [t for t in self.tensor_meta if t not in df.columns]
        new = df
        for t in missing:
            m = self.tensor_meta[t]
            new = new.withColumn(
                t, F.lit(None).cast(spark_type_for(m.get("htype", "generic"), m.get("dtype")))
            )
        base_rows = self._count_work()
        new = _assign_ids(new, self._next_uuid, base_rows)
        new = new.select(*self._work_df.columns)
        appended = new.count()
        self._next_uuid += appended
        self._work_df = self._work_df.unionByName(new)
        self._dirty = True

    def _flush_pending(self) -> None:
        if not any(self._pending.values()):
            self._pending = {}
            return
        import random

        n_new = max(len(v) for v in self._pending.values())
        base_rows = self._count_work()
        rows = []
        for i in range(n_new):
            # random 63-bit uuid: branches allocate independently, so ids
            # must not be sequential (two branches would mint colliding ids
            # for different rows and corrupt the uuid-keyed merge)
            row: dict[str, Any] = {
                UUID_COL: random.getrandbits(63),
                ROW_ID_COL: base_rows + i,
            }
            for tensor in self.tensor_meta:
                buf = self._pending.get(tensor)
                row[tensor] = _coerce(buf[i]) if buf is not None and i < len(buf) else None
            rows.append(row)
        self._next_uuid += n_new
        new_df = self.spark.createDataFrame(rows, self._work_df.schema)
        self._work_df = self._work_df.unionByName(new_df)
        self._pending = {}

    def _update_cell(self, tensor: str, index: int, value: Any) -> None:
        self._check_writable()
        self._require_tensor(tensor)
        self._flush_pending()
        self._work_df = self._work_df.withColumn(
            tensor,
            F.when(
                F.col(ROW_ID_COL) == F.lit(index),
                F.lit(_coerce(value)).cast(self._work_df.schema[tensor].dataType),
            ).otherwise(F.col(tensor)),
        )
        self._dirty = self._rewrite_needed = True

    def __setitem__(self, index: int, sample: Mapping[str, Any]) -> None:
        for tensor, value in sample.items():
            self._update_cell(tensor, index, value)

    def pop(self, index: int | Sequence[int] = -1) -> None:
        """Delete rows by position; positions renumber (reference
        ``crud_operations.py:259``)."""
        self._check_writable()
        self._flush_pending()
        indices = [index] if isinstance(index, int) else list(index)
        n = self._count_work()
        indices = [i if i >= 0 else n + i for i in indices]
        self._work_df = (
            self._work_df.filter(~F.col(ROW_ID_COL).isin(indices))
        )
        self._work_df = _renumber(self._work_df)
        self._dirty = self._rewrite_needed = True

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        """Current table state (hidden columns included)."""
        self._flush_pending()
        return self._work_df

    def to_df(self) -> DataFrame:
        return self.df.drop(*[c for c in HIDDEN_COLS if c in self.df.columns]).drop(
            *[t for t, m in self.tensor_meta.items() if m.get("hidden")]
        )

    def to_dataframe(self):
        """Export to pandas (reference ``to_dataframe.py:14``)."""
        return self.df.orderBy(ROW_ID_COL).drop(*HIDDEN_COLS).toPandas()

    def _column_values(self, tensor: str) -> list:
        self._require_tensor(tensor)
        rows = self.df.select(tensor, ROW_ID_COL).orderBy(ROW_ID_COL).collect()
        return [r[0] for r in rows]

    def _tensor_length(self, tensor: str) -> int:
        return int(self.df.filter(F.col(tensor).isNotNull()).count())

    def _count_work(self) -> int:
        return int(self._work_df.count())

    def __len__(self) -> int:
        """min tensor length (reference ``dataset.py:282-297``)."""
        self._flush_pending()
        if not self.tensor_meta:
            return 0
        return self._count_work()

    def __getattr__(self, name: str):
        meta = self.__dict__.get("tensor_meta", {})
        if name in meta:
            return TensorView(self, name)
        if name.startswith("_"):
            raise AttributeError(name)
        raise TensorDoesNotExistError(name)

    def __getitem__(self, key):
        if isinstance(key, str):
            return TensorView(self, key)
        raise TypeError("row views not supported; use .df / filter APIs")

    # ------------------------------------------------------------------
    # query facade
    # ------------------------------------------------------------------
    def filter_vectorized(
        self,
        condition_list: Sequence[Sequence[Any]],
        connector_list: Sequence[str] | None = None,
        offset: int = 0,
        limit: int | None = None,
    ) -> DataFrame:
        """Vectorized predicate filter.  Conditions flagged
        ``use_inverted_index`` (4th tuple element) route through the
        tensor's posting table when present and fresh (the reference's
        access-path selection, ``filter_vectorized.py:211-279``); others
        compile to scan predicates.  Both become boolean columns so the
        left-to-right AND/OR fold is preserved across mixed paths."""
        from muller_spark.plans.conditions import compile_condition

        df = self.df
        flags: list[Column] = []
        for i, cond in enumerate(condition_list):
            use_index = len(cond) >= 4 and bool(cond[3])
            idx = self._load_index(cond[0]) if use_index else None
            if idx is not None and cond[1] in ("CONTAINS", "BETWEEN", "=="):
                negate = len(cond) == 5 and str(cond[4]).upper() == "NOT"
                if cond[1] == "CONTAINS":
                    stype = "complex_fuzzy_match" if "||" in str(cond[2]) else "fuzzy_match"
                    ids = idx.search(cond[2], stype)
                elif cond[1] == "BETWEEN":
                    ids = idx.search(tuple(cond[2]), "range_match")
                else:
                    ids = idx.search(cond[2], "exact_match")
                flag_col = f"_idx_flag_{i}"
                ids = ids.withColumnRenamed("id", ROW_ID_COL).withColumn(
                    flag_col, F.lit(True)
                )
                df = df.join(ids, ROW_ID_COL, "left")
                pred = F.coalesce(F.col(flag_col), F.lit(False))
                flags.append(~pred if negate else pred)
            else:
                flags.append(compile_condition(cond))
        folded = flags[0] if flags else F.lit(True)
        for connector, nxt in zip(connector_list or [], flags[1:]):
            folded = (folded & nxt) if connector.upper() == "AND" else (folded | nxt)
        out = df.filter(folded).drop(
            *[c for c in df.columns if c.startswith("_idx_flag_")]
        )
        out = out.orderBy(ROW_ID_COL)
        if offset:
            out = out.offset(offset)
        if limit is not None:
            out = out.limit(limit)
        return out

    def filter(
        self,
        query: str | Callable | None = None,
        index_query: str | None = None,
        index_tensor: str | None = None,
        connector: str = "AND",
        offset: int = 0,
        limit: int | None = None,
    ) -> DataFrame:
        """Row filter: Python lambda (Arrow-batched) or query string
        (compiled to Catalyst), optionally combined with an
        inverted-index lookup via AND/OR (reference ``ds.filter(function,
        index_query, connector)``, ``mixins/query.py:95-159``; the
        reference resolves ``index_query`` through its safe evaluator —
        here the indexed tensor is named explicitly).  ``query=None``
        with an ``index_query`` returns the index matches alone."""
        if index_query is not None:
            if index_tensor is None:
                raise ValueError("index_query requires index_tensor")
            idx = self._load_index(index_tensor)
            if idx is None:
                raise ValueError(
                    f"no fresh inverted index on {index_tensor!r}; "
                    "create_index_vectorized first"
                )
            stype = "complex_fuzzy_match" if "||" in index_query else "fuzzy_match"
            ids = idx.search(index_query, stype).withColumnRenamed("id", ROW_ID_COL)
            if query is None:
                out = self.df.join(ids, ROW_ID_COL, "semi").orderBy(ROW_ID_COL)
                if offset:
                    out = out.offset(offset)
                if limit is not None:
                    out = out.limit(limit)
                return out
            base = self.filter(query)
            if connector.upper() == "AND":
                out = base.join(ids, ROW_ID_COL, "semi")
            elif connector.upper() == "OR":
                out = base.unionByName(
                    self.df.join(ids, ROW_ID_COL, "semi")
                ).dropDuplicates([ROW_ID_COL])
            else:
                raise ValueError("connector must be AND or OR")
            out = out.orderBy(ROW_ID_COL)
            if offset:
                out = out.offset(offset)
            if limit is not None:
                out = out.limit(limit)
            return out
        if query is None:
            raise ValueError("pass a query, an index_query, or both")
        if callable(query):
            # lambda over a row dict — Arrow-batched, never row-at-a-time Python
            df = self.df
            schema = df.schema

            def apply(iterator):
                for pdf in iterator:
                    mask = pdf.apply(lambda row: bool(query(row.to_dict())), axis=1)
                    yield pdf[mask]

            out = df.mapInPandas(apply, schema)
        else:
            class_labels = {
                t: m.get("info", {}).get("class_names")
                for t, m in self.tensor_meta.items()
                if m.get("info", {}).get("class_names")
            }
            cond = compile_query_string(
                query, columns=list(self.df.columns), class_labels=class_labels
            )
            out = self.df.filter(cond)
        out = out.orderBy(ROW_ID_COL)
        if offset:
            out = out.offset(offset)
        if limit is not None:
            out = out.limit(limit)
        return out

    def aggregate_vectorized(self, *args, **kwargs) -> DataFrame:
        fast = self._posting_count_fastpath(*args, **kwargs)
        if fast is not None:
            return fast
        return aggregate_vectorized(self.df, *args, **kwargs)

    aggregate = aggregate_vectorized

    def _posting_count_fastpath(
        self,
        group_by=None,
        selected=None,
        order_by=None,
        aggregate_tensors=("*",),
        order_direction: str = "ASC",
        method: str = "count",
        pre_filter=None,
    ):
        """``count(*)`` group-bys over scalar-indexed tensors answered
        PURELY from posting tables (reference
        ``core/query/aggregate.py:33-51,255-309`` answers class_label
        count group-bys from inverted-index postings — the last custom
        optimizer row of SURVEY §4).

        Applies iff method='count', aggregate is exactly '*', there is
        no pre-filter, and EVERY group column has a fresh SCALAR index
        (manifest commit == HEAD, not dirty).  The scan then touches
        only the narrow (term, id) posting tables — a real win when the
        base table is wide (the whole point of the reference's path).
        Multi-column groups intersect postings by joining on id, the
        distributed form of the reference's ``np.intersect1d`` per label
        combination.  NULL cells have no posting row, so a NULL group
        (which the hash-agg path WOULD emit) cannot be produced from
        postings — the fast path bails out unless the index is total
        (posting count == row count).  The totality check is METADATA
        ONLY: the manifest's ``n_postings`` (recorded at index build/
        update) against the snapshot's recorded row count — freshness
        is already guaranteed by ``_load_index`` (manifest commit ==
        HEAD, not dirty), so eligibility triggers ZERO Spark jobs and
        the plan stays lazy.  Returns None whenever ineligible; the
        caller falls through to hash-agg."""
        if group_by is None or method != "count" or pre_filter is not None:
            return None
        if list(aggregate_tensors) != ["*"]:
            return None
        from muller_spark.operators.aggregate import (
            apply_agg_ordering,
            validate_agg_args,
        )

        group_by, selected, order_by, aggregate_tensors, agg_names, direction = (
            validate_agg_args(
                group_by, selected, order_by, aggregate_tensors,
                order_direction, method,
            )
        )
        if any(self._pending.values()):
            return None  # unflushed rows: snapshot row_count is stale
        indexes = []
        # freshness (manifest commit == HEAD, not dirty) via _load_index
        # means the snapshot's recorded row count IS the table length —
        # no count job
        n_rows = self._snapshot.row_count
        for colname in group_by:
            idx = self._load_index(colname)
            if idx is None or idx.manifest.get("is_text"):
                return None
            # a NULL cell has no posting row: if any are missing, the
            # NULL group could not be produced — fall back to hash-agg.
            # n_postings comes from the manifest (absent on a pre-round-7
            # index -> conservatively ineligible), so this is metadata-only
            if idx.manifest.get("n_postings") != n_rows:
                return None
            indexes.append(idx)
        dtypes = dict(self.df.dtypes)
        joined = None
        for colname, idx in zip(group_by, indexes):
            p = idx._postings().select(
                F.col("id"), F.col("term").cast(dtypes[colname]).alias(colname)
            )
            joined = p if joined is None else joined.join(p, "id")
        out = (
            joined.groupBy(*group_by)
            .agg(F.count(F.lit(1)).alias("count_star"))
            .select(*selected, "count_star")
        )
        return apply_agg_ordering(
            out, selected, agg_names, order_by, direction, method
        )

    def statistics(self, use_cache: bool = True) -> DataFrame:
        """Per-column stats, cached per commit in the version log
        (reference caches them in version meta — ``dataset.py:1624``,
        ``statistics/statistics.py:49-97``).  Uncommitted changes always
        recompute; the cache is one tiny JSON per commit, so checkout of
        an old commit answers statistics() with zero Spark jobs."""
        import json as _json

        cache_dir = os.path.join(self.log.log_dir, "stats")
        cache_path = os.path.join(cache_dir, f"{self._snapshot.commit_id}.json")
        cacheable = use_cache and not self._dirty and not any(self._pending.values())
        if cacheable and self.fs.exists(cache_path):
            rows = _json.loads(self.fs.read_text(cache_path))
            return self.spark.createDataFrame(
                rows,
                "column string, kind string, nan_count long, nan_proportion double, "
                "min double, max double, mean double, median double, std double, "
                "row_count long",
            )
        out = statistics(self.df.drop(*HIDDEN_COLS))
        if cacheable:
            self.fs.makedirs(cache_dir)
            self.fs.write_text(
                cache_path, _json.dumps([r.asDict() for r in out.collect()])
            )
        return out

    def summary(self) -> dict:
        return {
            "tensors": {
                t: {"htype": m.get("htype"), "dtype": m.get("dtype")}
                for t, m in self.tensor_meta.items()
                if not m.get("hidden")
            },
            "rows": len(self),
            "branch": self.branch,
            "commit": self._snapshot.commit_id,
        }

    # ------------------------------------------------------------------
    # search indexes (reference mixins/query.py:25-93,264-287)
    # ------------------------------------------------------------------
    def _index_path(self, tensor: str) -> str:
        return os.path.join(self.path, "_indexes", "inverted", tensor)

    def create_index_vectorized(
        self,
        tensor: str,
        index_type: str = "fuzzy_match",
        num_of_shards: int = 8,
        stop_words_list: Sequence[str] | None = None,
        case_sensitive: bool = False,
        positions: bool = False,
        typo_keys: "int | None" = None,
        **_: Any,
    ):
        """Build a sharded inverted (posting-table) index on a tensor.
        ``positions=True`` keeps token positions so ``search(...,
        'phrase_match')`` answers exact-adjacency phrase queries.
        ``typo_keys=1`` (or 2) also builds the SymSpell deletion-key
        table from the index's term dictionary so ``ds.query(tensor,
        q, search_type='typo_match')`` answers typo-tolerant lookups."""
        from muller_spark.index.inverted import InvertedIndex

        self._require_tensor(tensor)
        is_text = self.tensor_meta[tensor].get("htype") in ("text", "json")
        return InvertedIndex.build(
            self.df,
            tensor,
            self._index_path(tensor),
            id_col=ROW_ID_COL,
            index_type=index_type,
            num_shards=num_of_shards,
            case_sensitive=case_sensitive,
            stop_words=stop_words_list,
            commit_id=self._snapshot.commit_id,
            is_text=is_text,
            positions=positions,
            typo_keys=typo_keys,
        )

    create_index = create_index_vectorized

    def _load_index(self, tensor: str):
        """Return the tensor's inverted index iff present and fresh
        (staleness check à la reference filter_vectorized.py:476-492)."""
        from muller_spark.index.inverted import InvertedIndex

        path = self._index_path(tensor)
        if not os.path.exists(os.path.join(path, "manifest.json")):
            return None
        idx = InvertedIndex(self.spark, path)
        if idx.manifest.get("commit_id") != self._snapshot.commit_id or self._dirty:
            return None
        return idx

    def query(self, tensor: str, q, search_type: str = "fuzzy_match") -> DataFrame:
        """Raw inverted-index lookup → matching rows."""
        idx = self._load_index(tensor)
        if idx is None:
            raise ValueError(f"no fresh index on {tensor!r}; create_index_vectorized first")
        ids = idx.search(q, search_type).withColumnRenamed("id", ROW_ID_COL)
        return self.df.join(ids, ROW_ID_COL, "semi").orderBy(ROW_ID_COL)

    def search_bm25(self, tensor: str, query: str, k: int = 10) -> DataFrame:
        """BM25-ranked full-text search: top-``k`` rows of the dataset
        joined with their relevance score (``_bm25_score`` column,
        descending).  Needs a fresh positional index
        (``create_index_vectorized(tensor, positions=True)``) — the
        stale-index guard is the same as ``query``."""
        idx = self._load_index(tensor)
        if idx is None:
            raise ValueError(
                f"no fresh index on {tensor!r}; create_index_vectorized first"
            )
        from muller_spark.operators.joins import maybe_broadcast

        hits = (
            idx.bm25(query, k=k)
            .withColumnRenamed("id", ROW_ID_COL)
            .withColumnRenamed("score", "_bm25_score")
        )
        # hits is LIMIT k by construction — a provable bound, so the
        # broadcast hint is safe at any corpus size (maybe_broadcast
        # documents the proof obligation)
        return (
            self.df.join(maybe_broadcast(hits, bound=k), ROW_ID_COL)
            .orderBy(F.col("_bm25_score").desc(), F.col(ROW_ID_COL).asc())
        )

    def update_index(self, tensor: str):
        """Refresh a stale inverted index (reference
        ``inverted_index_vectorized_ops.py:146`` ``_update_old_index`` /
        ``:220`` update-or-create decision): after append-only commits,
        tokenize and merge ONLY the delta rows — O(delta); after a
        rewrite (update/pop), rebuild, since row ids were renumbered.
        No-op when the index already matches HEAD."""
        from muller_spark.index.inverted import InvertedIndex

        path = self._index_path(tensor)
        if not self.fs.exists(os.path.join(path, "manifest.json")):
            raise ValueError(f"no index on {tensor!r}; create_index_vectorized first")
        idx = InvertedIndex(self.spark, path)
        indexed_commit = idx.manifest.get("commit_id")
        if indexed_commit == self._snapshot.commit_id:
            return idx
        old_snap = self._append_base(indexed_commit)
        if old_snap is not None:
            delta = self.df.filter(F.col(ROW_ID_COL) >= old_snap.row_count)
            return idx.update(delta, commit_id=self._snapshot.commit_id)
        m = idx.manifest
        return InvertedIndex.build(
            self.df, tensor, path, id_col=ROW_ID_COL,
            index_type=m["index_type"], num_shards=m["num_shards"],
            case_sensitive=m["case_sensitive"],
            stop_words=m["stop_words"] or None,
            commit_id=self._snapshot.commit_id, is_text=m["is_text"],
            positions=m.get("positions", False),
        )

    def drop_index(self, tensor: str) -> None:
        """Delete a tensor's inverted index permanently (lifecycle
        counterpart of ``drop_vector_index``); searches fall back to
        scan."""
        path = self._index_path(tensor)
        if self.fs.isdir(path):
            self.fs.rmtree(path)

    def list_indexes(self) -> dict:
        """All persisted indexes: tensor → kind → metadata summary."""
        import json as _json

        out: dict = {}
        inv_root = os.path.join(self.path, "_indexes", "inverted")
        if self.fs.isdir(inv_root):
            for tensor in self.fs.listdir(inv_root):
                mpath = os.path.join(inv_root, tensor, "manifest.json")
                if self.fs.exists(mpath):
                    m = _json.loads(self.fs.read_text(mpath))
                    out.setdefault(tensor, {})["inverted"] = {
                        "commit_id": m.get("commit_id"),
                        "fresh": m.get("commit_id") == self._snapshot.commit_id,
                        "num_shards": m.get("num_shards"),
                        "tokenizer": m.get("tokenizer"),
                    }
        vec_root = os.path.join(self.path, "_indexes", "vector")
        if self.fs.isdir(vec_root):
            for tensor in self.fs.listdir(vec_root):
                for name in self.fs.listdir(os.path.join(vec_root, tensor)):
                    m = self._vector_manifest(tensor, name)
                    if m is not None:
                        out.setdefault(tensor, {})[f"vector/{name}"] = {
                            "commit_id": m.get("commit_id"),
                            "fresh": m.get("commit_id") == self._snapshot.commit_id,
                            "index_type": m.get("index_type"),
                            "metric": m.get("metric"),
                            "loaded": (tensor, name) in self._vector_loaded,
                        }
        return out

    def create_vector_index(
        self,
        tensor: str,
        index_name: str = "default",
        index_type: str = "FLAT",
        metric: str = "l2",
        **hyper: Any,
    ) -> None:
        """Create an ANN index (reference ``create_vector_index``,
        ``vector_search_ops.py:18-48``).  FLAT = exact (no artifact);
        LSH/HNSW* tables/graphs derive deterministically from the seed at
        search time (manifest only); IVF* additionally MATERIALIZES its
        artifacts — centroids + a cell-partitioned ``(id, cell)``
        assignment table — so searches partition-prune to the probed
        cells instead of re-assigning the corpus per query."""
        import json as _json

        self._require_tensor(tensor)
        path = os.path.join(self.path, "_indexes", "vector", tensor, index_name)
        self.fs.makedirs(path)
        if index_type.upper() == "IVFPQ":
            if metric != "l2":
                # ivfpq_search computes ADC + exact refine in L2 only;
                # routing a cosine/ip index there would silently return
                # L2-ranked results (normalize vectors + l2 for cosine)
                raise ValueError(
                    "IVFPQ index supports metric='l2' only; normalize "
                    "vectors and use l2 for cosine ranking"
                )
            from muller_spark.index.vector import build_ivfpq_artifacts

            build_ivfpq_artifacts(
                self.df, tensor, ROW_ID_COL, path,
                num_centroids=int(hyper.get("nlist", hyper.get("num_centroids", 16))),
                num_subspaces=int(hyper.get("num_subspaces", hyper.get("m", 8))),
                codebook_size=int(hyper.get("codebook_size", 256)),
                sample_size=int(hyper.get("sample_size", 4096)),
                seed=int(hyper.get("seed", 42)),
            )
        elif index_type.upper().startswith("IVF"):
            if metric != "l2":
                # build-time cell assignment is L2; probing another
                # metric's nearest centroids would systematically miss
                # the cells where matching vectors actually live
                raise ValueError(
                    "IVF index supports metric='l2' only; normalize "
                    "vectors and use l2 for cosine ranking"
                )
            from muller_spark.index.vector import build_ivf_artifacts

            # SQ8 inverted lists: store_vectors + quantize_bits=8 gives
            # the FAISS "IVF,SQ8" layout — 4× smaller lists, recall
            # pinned in tests/test_vector_quantized.py
            qbits = hyper.get("quantize_bits")
            build_ivf_artifacts(
                self.df, tensor, ROW_ID_COL, path,
                num_centroids=int(hyper.get("nlist", hyper.get("num_centroids", 16))),
                sample_size=int(hyper.get("sample_size", 4096)),
                seed=int(hyper.get("seed", 42)),
                store_vectors=bool(hyper.get("store_vectors", qbits is not None)),
                quantize_bits=int(qbits) if qbits is not None else None,
            )
        elif index_type.upper() in ("DISKANN", "GRAPH"):
            # disk-resident graph (reference DISKANN index type,
            # vector_search_ops.py:18-48 / diskann_index.py)
            if metric != "l2":
                raise ValueError(
                    "DISKANN/GRAPH index supports metric='l2' only; "
                    "normalize vectors and use l2 for cosine ranking"
                )
            from muller_spark.index.graph import build_graph_artifacts

            qb = hyper.get("quantize_bits")
            build_graph_artifacts(
                self.df, tensor, ROW_ID_COL, path,
                num_cells=int(hyper.get("num_cells", hyper.get("nlist", 16))),
                R=int(hyper.get("R", 12)),
                sample_size=int(hyper.get("sample_size", 4096)),
                seed=int(hyper.get("seed", 42)),
                quantize_bits=int(qb) if qb is not None else None,
            )
        manifest = {
            "tensor": tensor,
            "index_type": index_type,
            "metric": metric,
            "hyper": hyper,
            "commit_id": self._snapshot.commit_id,
        }
        self.fs.write_text(os.path.join(path, "manifest.json"), _json.dumps(manifest))

    def vector_search(
        self,
        query_vector,
        tensor_name: str,
        index_name: str = "default",
        topk: int = 10,
    ) -> DataFrame:
        """Top-k similarity search; uses the registered index config
        (FLAT → exact partial+global top-k; IVF/IVFPQ/IVFFLAT → persisted
        coarse-quantizer artifacts when fresh, else the on-the-fly probe
        path; HNSW* → per-partition graph path (hnswlib-gated);
        LSH → hyperplane LSH path).  A stale IVF artifact (dataset HEAD
        moved past the index's commit) falls back to the exact path, the
        same staleness discipline as the inverted index."""
        from muller_spark.index.vector import (
            ann_knn,
            exact_knn,
            hnsw_knn,
            ivf_knn,
            ivf_search_prebuilt,
        )

        idx_dir = os.path.join(self.path, "_indexes", "vector", tensor_name, index_name)
        m = self._vector_manifest(tensor_name, index_name)
        if m is None:
            return exact_knn(self.df, tensor_name, ROW_ID_COL, query_vector, topk, "l2")
        metric, index_type, hyper = m["metric"], m["index_type"], m.get("hyper", {})
        if index_type == "FLAT":
            return exact_knn(self.df, tensor_name, ROW_ID_COL, query_vector, topk, metric)
        if index_type.upper().startswith("IVF"):
            if m.get("commit_id") != self._snapshot.commit_id or self._dirty:
                # stale artifact: exact scan keeps results correct
                return exact_knn(
                    self.df, tensor_name, ROW_ID_COL, query_vector, topk, metric
                )
            loaded = self._vector_loaded.get((tensor_name, index_name))
            if index_type.upper() == "IVFPQ" and os.path.isdir(
                os.path.join(idx_dir, "codes")
            ):
                from muller_spark.index.vector import ivfpq_search

                return ivfpq_search(
                    self.df, tensor_name, ROW_ID_COL, idx_dir, query_vector,
                    topk, nprobe=int(hyper.get("nprobe", 4)),
                    refine=int(hyper.get("refine", 4)),
                    centroids=loaded.get("centroids") if loaded else None,
                    codebooks=loaded.get("codebooks") if loaded else None,
                    codes_df=loaded.get("codes_df") if loaded else None,
                )
            if os.path.isdir(os.path.join(idx_dir, "assign")):
                return ivf_search_prebuilt(
                    self.df, tensor_name, ROW_ID_COL, idx_dir, query_vector,
                    topk, metric, nprobe=int(hyper.get("nprobe", 4)),
                    centroids=loaded.get("centroids") if loaded else None,
                    assign_df=loaded.get("assign_df") if loaded else None,
                )
            return ivf_knn(
                self.df, tensor_name, ROW_ID_COL, query_vector, topk, metric,
                num_centroids=int(hyper.get("nlist", hyper.get("num_centroids", 16))),
                nprobe=int(hyper.get("nprobe", 4)),
            )
        if index_type.upper() in ("DISKANN", "GRAPH"):
            if m.get("commit_id") != self._snapshot.commit_id or self._dirty:
                # stale artifact: exact scan keeps results correct
                return exact_knn(
                    self.df, tensor_name, ROW_ID_COL, query_vector, topk, metric
                )
            from muller_spark.index.graph import graph_search

            return graph_search(
                self.df.sparkSession, idx_dir, query_vector, k=topk,
                beam=int(hyper.get("beam", 48)),
                max_hops=int(hyper.get("max_hops", 6)),
                entry_probe=int(hyper.get("entry_probe", 4)),
            )
        if index_type.upper().startswith("HNSW"):
            return hnsw_knn(
                self.df, tensor_name, ROW_ID_COL, query_vector, topk, metric,
                m_links=int(hyper.get("M", hyper.get("m_links", 16))),
                ef_construction=int(hyper.get("ef_construction", 200)),
                ef_search=int(hyper.get("ef_search", 64)),
            )
        return ann_knn(
            self.df, tensor_name, ROW_ID_COL, query_vector, topk, metric,
            num_planes=int(hyper.get("num_planes", 6)),
            num_tables=int(hyper.get("num_tables", 8)),
        )

    def _vector_manifest(self, tensor_name: str, index_name: str) -> "dict | None":
        import json as _json

        path = os.path.join(
            self.path, "_indexes", "vector", tensor_name, index_name, "manifest.json"
        )
        if not self.fs.exists(path):
            return None
        return _json.loads(self.fs.read_text(path))

    def load_vector_index(self, tensor_name: str, index_name: str = "default") -> None:
        """Pull the index's small driver-side state (manifest + IVF
        centroids) into memory so searches skip the artifact read
        (reference ``load_vector_index``, ``vector_search_ops.py:104``).
        The cell-partitioned assignment table stays on disk — executors
        read only the probed partitions."""
        from muller_spark.errors import VectorIndexNotFoundError
        from muller_spark.index.vector import load_ivf_centroids

        m = self._vector_manifest(tensor_name, index_name)
        if m is None:
            raise VectorIndexNotFoundError(f"{tensor_name}/{index_name}")
        state: dict = {"manifest": m}
        idx_dir = os.path.join(self.path, "_indexes", "vector", tensor_name, index_name)
        if os.path.isdir(os.path.join(idx_dir, "centroids")):
            state["centroids"] = load_ivf_centroids(self.spark, idx_dir)
        if os.path.isdir(os.path.join(idx_dir, "codebooks")):
            from muller_spark.index.vector import load_pq_codebooks

            state["codebooks"] = load_pq_codebooks(self.spark, idx_dir)
        # hold the opened cell-partitioned tables too: re-opening them
        # per search re-lists nlist partition directories, which at
        # nlist=1000 costs more than the probed scan itself
        if os.path.isdir(os.path.join(idx_dir, "assign")):
            state["assign_df"] = self.spark.read.parquet(
                os.path.join(idx_dir, "assign")
            )
        if os.path.isdir(os.path.join(idx_dir, "codes")):
            state["codes_df"] = self.spark.read.parquet(
                os.path.join(idx_dir, "codes")
            )
        self._vector_loaded[(tensor_name, index_name)] = state

    def unload_vector_index(self, tensor_name: str, index_name: str = "default") -> None:
        """Release the in-memory state (reference ``unload_vector_index``,
        ``vector_search_ops.py:118``); the on-disk artifact remains."""
        self._vector_loaded.pop((tensor_name, index_name), None)

    def drop_vector_index(self, tensor_name: str, index_name: str = "default") -> None:
        """Delete the index permanently (reference ``drop_vector_index``,
        ``vector_search_ops.py:131``)."""
        self.unload_vector_index(tensor_name, index_name)
        idx_dir = os.path.join(self.path, "_indexes", "vector", tensor_name, index_name)
        if self.fs.isdir(idx_dir):
            self.fs.rmtree(idx_dir)

    def update_vector_index(self, tensor_name: str, index_name: str = "default") -> None:
        """Refresh a stale index after commits (reference
        ``update_vector_index``, ``vector_search_ops.py:51-82``) by the
        same rule as :meth:`update_index`: after append-only commits, only
        the rows past the indexed commit's row count are assigned to the
        EXISTING centroids and appended — O(delta), no retrain.  After a
        rewrite (update/pop/merge) row ids were renumbered, so the index
        is rebuilt from its manifest's config.  No-op when the index
        already matches HEAD."""
        from muller_spark.errors import VectorIndexNotFoundError
        from muller_spark.index.vector import append_ivf_assignments

        m = self._vector_manifest(tensor_name, index_name)
        if m is None:
            raise VectorIndexNotFoundError(f"{tensor_name}/{index_name}")
        if m.get("commit_id") == self._snapshot.commit_id:
            return
        loaded = self._vector_loaded.get((tensor_name, index_name))
        old_snap = self._append_base(m.get("commit_id"))
        if old_snap is None:
            self.create_vector_index(
                tensor_name, index_name, index_type=m["index_type"],
                metric=m["metric"], **m.get("hyper", {}),
            )
            if loaded is not None:
                self.load_vector_index(tensor_name, index_name)
            return
        idx_dir = os.path.join(self.path, "_indexes", "vector", tensor_name, index_name)
        delta = self.df.filter(F.col(ROW_ID_COL) >= old_snap.row_count).select(
            ROW_ID_COL, tensor_name
        )
        if os.path.isdir(os.path.join(idx_dir, "codes")):
            from muller_spark.index.vector import append_ivfpq_codes

            append_ivfpq_codes(delta, tensor_name, ROW_ID_COL, idx_dir)
        elif os.path.isdir(os.path.join(idx_dir, "adjacency")):
            # disk graph: rebuild only the delta's touched cells
            from muller_spark.index.graph import append_graph_vectors

            append_graph_vectors(
                delta, tensor_name, ROW_ID_COL, idx_dir,
                R=int(m.get("hyper", {}).get("R", 12)),
            )
        elif os.path.isdir(os.path.join(idx_dir, "assign")):
            qb = m.get("hyper", {}).get("quantize_bits")
            append_ivf_assignments(
                delta, tensor_name, ROW_ID_COL, idx_dir,
                quantize_bits=int(qb) if qb is not None else None,
                centroids=loaded.get("centroids") if loaded else None,
            )
        m["commit_id"] = self._snapshot.commit_id
        self.fs.write_text(os.path.join(idx_dir, "manifest.json"), json.dumps(m))
        if loaded is not None:
            # centroids and codebooks are unchanged; only the opened
            # tables must re-list their files to see the appended ones
            loaded["manifest"] = m
            for key, sub in (("assign_df", "assign"), ("codes_df", "codes")):
                if key in loaded:
                    loaded[key] = self.spark.read.schema(loaded[key].schema).parquet(
                        os.path.join(idx_dir, sub)
                    )

    def _append_base(self, indexed_commit: "str | None") -> "Snapshot | None":
        """The indexed commit's snapshot iff HEAD only appended rows since
        it (its data dirs are all still live), so rows below its row
        count kept their ids; None when an index must be rebuilt."""
        try:
            old_snap = self.log.get_snapshot(indexed_commit)
        except KeyError:
            return None
        if set(old_snap.data_dirs) <= set(self._snapshot.data_dirs):
            return old_snap
        return None

    # ------------------------------------------------------------------
    # version control
    # ------------------------------------------------------------------
    def commit(self, message: str = "", allow_empty: bool = False) -> str:
        self._check_writable()
        if self.branch is None:
            raise CheckoutError(
                "detached checkout (commit id, not a branch); "
                "checkout(name, create=True) to branch from here before committing"
            )
        try:
            ref = self.log.get_ref(self.branch)
        except KeyError:
            ref = None
        if ref is not None and ref != self._snapshot.commit_id:
            # the ref moved since this checkout (concurrent writer or a
            # stale snapshot) — advancing it would orphan newer commits
            raise CheckoutError(
                f"branch {self.branch!r} has advanced to {ref[:12]} since this "
                f"checkout of {self._snapshot.commit_id[:12]}; checkout() the "
                "branch again (or merge) before committing"
            )
        self._flush_pending()
        if not self._dirty and not allow_empty:
            return self._snapshot.commit_id
        commit_id = self.log.new_commit_id()
        rel_dir = os.path.join("data", commit_id)
        out_dir = os.path.join(self.path, rel_dir)

        if self._rewrite_needed or not self._snapshot.data_dirs:
            # copy-on-write rewrite of the full table state
            to_write = self._work_df
            data_dirs = [rel_dir]
        else:
            # append-only fast path: write just the delta rows
            to_write = self._work_df.filter(F.col(ROW_ID_COL) >= self._committed_count)
            data_dirs = list(self._snapshot.data_dirs) + [rel_dir]

        to_write.write.mode("overwrite").parquet(out_dir)
        row_count = self._count_work()
        snap = self.log.commit(
            parent_ids=[self._snapshot.commit_id],
            branch=self.branch,
            message=message,
            data_dirs=data_dirs,
            schema_json=self._work_df.schema.json(),
            tensor_meta=self.tensor_meta,
            row_count=row_count,
            next_uuid=self._next_uuid,
            commit_id=commit_id,
        )
        self._load(snap)
        return snap.commit_id

    def lock_branch(self, branch: str | None = None, timeout: float = 0.0,
                    ttl: float | None = None):
        """Exclusive single-writer lease on a branch (reference
        ``protect_checkout``, ``commits.py:403``).  Use as a context
        manager around a write session; see versioning/locks.py."""
        from muller_spark.versioning.locks import DEFAULT_TTL_SECONDS, BranchLock

        if (branch or self.branch) is None:
            raise CheckoutError("detached checkout has no branch to lock")
        return BranchLock(
            self.log.log_dir, branch or self.branch,
            timeout=timeout, ttl=ttl or DEFAULT_TTL_SECONDS,
        )

    def protected_commit(self, message: str = "", allow_empty: bool = False,
                         timeout: float = 5.0) -> str:
        """Commit while holding the branch lease (reference
        ``protected_commit``, ``commits.py:143``): concurrent writers on
        the same branch serialize instead of losing updates."""
        with self.lock_branch(timeout=timeout):
            return self.commit(message, allow_empty=allow_empty)

    def checkout(self, address: str, create: bool = False) -> None:
        """Switch to a branch or commit.  A raw commit id detaches the
        checkout (``branch = None``): reads work, but ``commit()``
        refuses until ``checkout(name, create=True)`` forks a new branch
        here — otherwise a commit would silently re-point the snapshot's
        recorded branch at a stale parent and orphan its newer commits."""
        if self._dirty or any(self._pending.values()):
            raise CheckoutError("uncommitted changes; commit() or reset() first")
        if create:
            if address in self.log.branches():
                raise CheckoutError(f"branch {address!r} already exists")
            self.log.set_ref(address, self._snapshot.commit_id)
        snap = self.log.resolve(address)
        self.branch = address if address in self.log.branches() else None
        self._load(snap)

    def reset(self) -> None:
        if self.branch is None:
            self._load(self.log.resolve(self._snapshot.commit_id))
        else:
            self._load(self.log.resolve(self.branch))

    @property
    def commit_id(self) -> str:
        return self._snapshot.commit_id

    @property
    def branches(self) -> list[str]:
        return self.log.branches()

    def log_history(self) -> list[Snapshot]:
        return self.log.log(self._snapshot.commit_id)

    def delete_branch(self, branch: str) -> None:
        if branch == self.branch:
            raise CheckoutError("cannot delete the checked-out branch")
        if branch == "main":
            raise CheckoutError("cannot delete main")
        self.log.delete_ref(branch)

    # -- merge ----------------------------------------------------------
    def merge(
        self,
        target_id: str,
        append_resolution: str | None = None,
        update_resolution: str | None = None,
        pop_resolution: str | None = None,
        delete_removed_tensors: bool = False,
        force: bool = False,
    ) -> str:
        """Three-way merge of ``target_id`` into the current branch
        (semantics from reference ``merge.py:960-1160``; see
        muller_spark/versioning/merge.py for the resolution matrix)."""
        from muller_spark.versioning.merge import three_way_merge

        self._check_writable()
        if self.branch is None:
            raise CheckoutError("detached checkout; checkout a branch before merge")
        if self._dirty or any(self._pending.values()):
            raise CheckoutError("uncommitted changes; commit() before merge")
        if append_resolution not in (None, "ours", "theirs", "both"):
            raise ValueError("append_resolution must be None|ours|theirs|both")
        if update_resolution not in (None, "ours", "theirs"):
            raise ValueError("update_resolution must be None|ours|theirs")
        if pop_resolution not in (None, "ours", "theirs", "both"):
            raise ValueError("pop_resolution must be None|ours|theirs|both")

        ours = self._snapshot
        theirs = self.log.resolve(target_id)
        lca_id = self.log.lca(ours.commit_id, theirs.commit_id)

        if lca_id == theirs.commit_id:
            return ours.commit_id  # already up to date
        if lca_id == ours.commit_id:
            # fast-forward (reference fast_forwarding.py:70)
            self.log.set_ref(self.branch, theirs.commit_id)
            self._load(self.log.get_snapshot(theirs.commit_id))
            return theirs.commit_id

        base = self.log.get_snapshot(lca_id)
        commit_id = self.log.new_commit_id()
        rel_dir = os.path.join("data", commit_id)
        out_dir = os.path.join(self.path, rel_dir)
        with three_way_merge(
            ours_df=self._read_snapshot_df(ours),
            theirs_df=self._read_snapshot_df(theirs),
            base_df=self._read_snapshot_df(base),
            ours_meta=dict(ours.tensor_meta),
            theirs_meta=dict(theirs.tensor_meta),
            base_meta=dict(base.tensor_meta),
            append_resolution=append_resolution,
            update_resolution=update_resolution,
            pop_resolution=pop_resolution,
            delete_removed_tensors=delete_removed_tensors,
            force=force,
            next_uuid=max(ours.next_uuid, theirs.next_uuid),
        ) as (merged_df, merged_meta, next_uuid):
            merged_df.write.mode("overwrite").parquet(out_dir)
        row_count = self.spark.read.schema(merged_df.schema).parquet(out_dir).count()
        snap = self.log.commit(
            parent_ids=[ours.commit_id, theirs.commit_id],
            branch=self.branch,
            message=f"merge {target_id} into {self.branch}",
            data_dirs=[rel_dir],
            schema_json=merged_df.schema.json(),
            tensor_meta=merged_meta,
            row_count=row_count,
            next_uuid=next_uuid,
            commit_id=commit_id,
        )
        self._load(snap)
        return snap.commit_id

    def detect_merge_conflict(
        self,
        target_id: str,
        show_value: bool = False,
        as_dict: bool = True,
        max_rows: int = 100_000,
    ):
        """Dry-run conflict report (reference ``commits.py:254-302``).
        ``as_dict=False`` returns one distributed DataFrame report
        (never collects — the 100 TB path); the dict form materializes
        only under ``max_rows`` and raises beyond it."""
        from muller_spark.versioning.merge import detect_conflicts, detect_conflicts_df

        ours = self._snapshot
        theirs = self.log.resolve(target_id)
        lca_id = self.log.lca(ours.commit_id, theirs.commit_id)
        if lca_id in (ours.commit_id, theirs.commit_id):
            return ([], {}) if as_dict else None
        base = self.log.get_snapshot(lca_id)
        kwargs = dict(
            ours_df=self._read_snapshot_df(ours),
            theirs_df=self._read_snapshot_df(theirs),
            base_df=self._read_snapshot_df(base),
            tensors=[t for t in ours.tensor_meta if t in theirs.tensor_meta],
        )
        if not as_dict:
            return detect_conflicts_df(**kwargs)
        return detect_conflicts(show_value=show_value, max_rows=max_rows, **kwargs)

    def diff(
        self,
        id_1: str,
        id_2: str | None = None,
        as_dict: bool = True,
        max_rows: int = 100_000,
    ):
        """Change sets of two commits relative to their LCA
        (reference ``operations/diff.py:188-355``).  ``as_dict=False``
        maps each label to a distributed report DataFrame
        ``(kind, _uuid, tensor, index, old_value, new_value)`` — the
        form that scales; the dict form is capped at ``max_rows``."""
        from muller_spark.versioning.merge import snapshot_diff, snapshot_diff_df

        snap_1 = self.log.resolve(id_1)
        snap_2 = self.log.resolve(id_2) if id_2 else self._snapshot
        lca_id = self.log.lca(snap_1.commit_id, snap_2.commit_id)
        base = self.log.get_snapshot(lca_id)
        base_df = self._read_snapshot_df(base)
        out = {}
        for label, snap in ((id_1, snap_1), (id_2 or "HEAD", snap_2)):
            if as_dict and snap.commit_id == lca_id:
                # the LCA itself: empty by definition, no join to run
                out[label] = {"appended": [], "popped": [], "updated": {}}
                continue
            tensors = [t for t in snap.tensor_meta if t in base.tensor_meta]
            df = self._read_snapshot_df(snap)
            out[label] = (
                snapshot_diff(df, base_df, tensors, max_rows=max_rows)
                if as_dict
                else snapshot_diff_df(df, base_df, tensors)
            )
        return out

    # ------------------------------------------------------------------
    # views per commit (reference view_operations.py:106-258)
    # ------------------------------------------------------------------
    def _views_dir(self) -> str:
        return os.path.join(self.path, "_views")

    def save_view(
        self,
        view_df: DataFrame | None = None,
        view_id: str | None = None,
        message: str = "",
        optimize: bool = False,
    ) -> str:
        """Persist a filtered view under its source commit.  Stores the
        member row ids (+ snapshot id); ``optimize=True`` additionally
        materializes a copy of the rows (the reference's 'optimized'
        views)."""
        import json as _json
        import uuid as uuidlib

        view_id = view_id or uuidlib.uuid4().hex[:16]
        vdir = os.path.join(self._views_dir(), view_id)
        self.fs.makedirs(vdir)
        df = view_df if view_df is not None else self.df
        df.select(ROW_ID_COL).write.mode("overwrite").parquet(
            os.path.join(vdir, "row_ids")
        )
        if optimize:
            df.write.mode("overwrite").parquet(os.path.join(vdir, "materialized"))
        self.fs.write_text(os.path.join(vdir, "manifest.json"), _json.dumps({
            "view_id": view_id,
            "commit_id": self._snapshot.commit_id,
            "message": message,
            "optimized": optimize,
        }))
        return view_id

    def load_view(self, view_id: str) -> DataFrame:
        import json as _json

        vdir = os.path.join(self._views_dir(), view_id)
        manifest = _json.loads(self.fs.read_text(os.path.join(vdir, "manifest.json")))
        if manifest.get("optimized"):
            return self.spark.read.parquet(os.path.join(vdir, "materialized"))
        snap = self.log.get_snapshot(manifest["commit_id"])
        base = self._read_snapshot_df(snap)
        ids = self.spark.read.parquet(os.path.join(vdir, "row_ids"))
        return base.join(ids, ROW_ID_COL, "semi").orderBy(ROW_ID_COL)

    def get_views(self) -> list[dict]:
        import json as _json

        root = self._views_dir()
        if not self.fs.isdir(root):
            return []
        out = []
        for vid in sorted(self.fs.listdir(root)):
            mpath = os.path.join(root, vid, "manifest.json")
            if self.fs.exists(mpath):
                out.append(_json.loads(self.fs.read_text(mpath)))
        return out

    def delete_view(self, view_id: str) -> None:
        vdir = os.path.join(self._views_dir(), view_id)
        if self.fs.isdir(vdir):
            self.fs.rmtree(vdir)

    # ------------------------------------------------------------------
    # maintenance / misc (reference dataset.py:1018,1727; statistics/)
    # ------------------------------------------------------------------
    def rechunk(
        self,
        target_partitions: int | None = None,
        target_mb: int | None = None,
    ) -> str:
        """Compaction: rewrite the table state as one optimally-sized
        snapshot (the reference rewrites chunks to target sizes —
        128 MB default, ``constants.py:30``, ``rechunk_operations.py``;
        here it folds N delta dirs into one dir and rebalances
        partitions).  ``target_mb`` sizes partitions from the current
        on-disk footprint — the direct analogue of the reference's
        max-chunk-size knob."""
        self._check_writable()
        self._flush_pending()
        if target_mb is not None:
            if target_partitions is not None:
                raise ValueError("pass target_partitions or target_mb, not both")
            size = self.size_approx()
            target_partitions = max(1, -(-size // (target_mb * 1024 * 1024)))
        if target_partitions:
            self._work_df = self._work_df.repartition(int(target_partitions))
        self._dirty = self._rewrite_needed = True
        return self.commit("rechunk")

    def vacuum(
        self,
        dry_run: bool = False,
        prune_snapshots: bool = False,
    ) -> dict:
        """Garbage-collect data directories no reachable commit
        references (the lakehouse VACUUM analogue for the CoW commit
        log).  Reachable = ancestors of every branch ref, every
        view-pinned commit, and the current checkout — so time travel
        within live history always survives; garbage only appears after
        ``delete_branch`` / ``reset`` orphan a rewrite lineage.

        ``prune_snapshots=True`` additionally removes the snapshot
        manifests of unreachable commits.  ``dry_run=True`` reports
        without deleting.  Callers running concurrent writers should
        hold the branch lease (``lock_branch``) around vacuum, as with
        any store-wide GC."""
        live: set[str] = set()
        for b in self.log.branches():
            live |= self.log.ancestors(self.log.get_ref(b))
        live |= self.log.ancestors(self._snapshot.commit_id)
        for view in self.get_views():
            cid = view.get("commit_id")
            if cid:
                try:
                    live |= self.log.ancestors(cid)
                except (KeyError, FileNotFoundError, ValueError):
                    pass  # view pinned to an already-pruned commit
        referenced: set[str] = set()
        for cid in live:
            try:
                referenced |= set(self.log.get_snapshot(cid).data_dirs)
            except (KeyError, FileNotFoundError, ValueError):
                pass
        data_root = self.log.data_dir
        on_disk = self.fs.listdir(data_root) if self.fs.isdir(data_root) else []
        removed = []
        for name in sorted(on_disk):
            rel = os.path.join("data", name)
            if rel not in referenced:
                removed.append(rel)
                if not dry_run:
                    self.fs.rmtree(os.path.join(self.path, rel))
        snapshots_removed = []
        if prune_snapshots:
            for fname in sorted(self.fs.listdir(self.log.snap_dir)):
                cid = fname[:-5] if fname.endswith(".json") else fname
                if cid not in live:
                    snapshots_removed.append(cid)
                    if not dry_run:
                        self.fs.remove(os.path.join(self.log.snap_dir, fname))
        return {
            "removed": removed,
            "kept": len(referenced),
            "snapshots_removed": snapshots_removed,
        }

    def optimize_layout(
        self,
        cluster_by: "list[str]",
        target_partitions: int | None = None,
        zorder: bool = False,
    ) -> str:
        """Data-skipping compaction: rewrite the table clustered on
        ``cluster_by`` so parquet row-group / file min-max stats become
        selective for those columns (the lakehouse OPTIMIZE ... ZORDER
        analogue).

        Default layout is range clustering (range partitioning + an
        in-file sort), which dominates Z-order when queries filter on
        the key PREFIX.  ``zorder=True`` interleaves quantile-rank bits
        of ALL ``cluster_by`` columns (operators/layout.zorder) so a
        predicate on any single clustered column prunes most files —
        the right layout when queries filter the second key alone.

        At 100 TB this is the difference between a filter on the cluster
        key pruning ~all files versus scanning the corpus: Spark's
        parquet reader skips whole row groups whose [min, max] miss the
        predicate.  One range-exchange + per-partition sort, then the
        normal commit path."""
        if not cluster_by:
            raise ValueError("cluster_by needs at least one column")
        self._check_writable()
        self._flush_pending()
        df = self._work_df
        if zorder:
            from muller_spark.operators.layout import zorder as _zorder

            self._work_df = _zorder(df, cluster_by, target_partitions)
        else:
            cols = [F.col(c) for c in cluster_by]
            if target_partitions:
                df = df.repartitionByRange(int(target_partitions), *cols)
            else:
                df = df.repartitionByRange(*cols)
            self._work_df = df.sortWithinPartitions(*cols)
        self._dirty = self._rewrite_needed = True
        kind = "zorder" if zorder else "optimize_layout"
        return self.commit(f"{kind}({','.join(cluster_by)})")

    def sub_ds(self, start: int, end: int) -> DataFrame:
        """Positional sub-range view (reference ``dataset.py:1727``)."""
        return self.df.filter(
            (F.col(ROW_ID_COL) >= start) & (F.col(ROW_ID_COL) < end)
        ).orderBy(ROW_ID_COL)

    def get_col_info(self) -> dict[str, dict]:
        """Peek columns without loading data (reference
        ``api/dataset/core.py:272``)."""
        return {
            t: {"htype": m.get("htype"), "dtype": m.get("dtype")}
            for t, m in self.tensor_meta.items()
            if not m.get("hidden")
        }

    def size_approx(self) -> int:
        """Approximate on-disk bytes of the current snapshot."""
        total = 0
        for d in self._snapshot.data_dirs:
            for root, _, files in os.walk(os.path.join(self.path, d)):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    # ------------------------------------------------------------------
    def _require_tensor(self, name: str) -> None:
        if name not in self.tensor_meta:
            raise TensorDoesNotExistError(name)

    def _check_writable(self) -> None:
        if self.read_only:
            raise ReadOnlyModeError("dataset is read-only")


# ----------------------------------------------------------------------
# helpers
# ----------------------------------------------------------------------

def _coerce(value: Any) -> Any:
    """Normalize numpy scalars/arrays to plain Python for createDataFrame."""
    try:
        import numpy as np

        if isinstance(value, np.generic):
            return value.item()
        if isinstance(value, np.ndarray):
            return value.tolist()
    except ImportError:
        pass
    return value


def _assign_ids(df: DataFrame, start_uuid: int, start_row: int) -> DataFrame:
    """Assign _uuid/_row_id to an append batch, distributed.

    Positions: partition-local index + per-partition offsets (the
    zipWithIndex pattern — no global window, only per-partition counts
    reach the driver).  Uuids: xxhash64 of a batch salt + position, so
    branches minting ids independently don't collide (random 64-bit space,
    like the reference's random uuid tensor ``crud_operations.py:407``)."""
    import uuid as uuidlib

    salt = uuidlib.uuid4().hex
    with_part = df.withColumn("_pid", F.spark_partition_id())
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_part.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        # empty batch: F.create_map() with no args types as
        # map<void,void> and `map()[_pid]` fails analysis — use a dummy
        # entry no row will ever evaluate
        offsets = {0: 0}
    offset_map = F.create_map(
        *[F.lit(x) for pair in offsets.items() for x in pair]
    )
    w = Window.partitionBy("_pid").orderBy(F.monotonically_increasing_id())
    local_idx = F.row_number().over(w) - 1
    idx = offset_map[F.col("_pid")] + local_idx
    return (
        with_part.withColumn(UUID_COL, F.xxhash64(F.lit(salt), idx))
        .withColumn(ROW_ID_COL, (idx + F.lit(start_row)).cast("long"))
        .drop("_pid")
    )


def _renumber(df: DataFrame) -> DataFrame:
    """Re-pack row ids densely after a pop.  Distributed: value-range
    buckets + per-bucket offsets (``rowid.dense_row_numbers``), NOT a
    global ``Window.orderBy`` — the single-partition exchange that
    would serialize the whole table through one task at scale."""
    from muller_spark.rowid import dense_row_numbers

    return dense_row_numbers(df, [ROW_ID_COL], ROW_ID_COL)


# ----------------------------------------------------------------------
# top-level API (reference muller/api/dataset/core.py)
# ----------------------------------------------------------------------

def dataset(
    path: str,
    spark: SparkSession | None = None,
    read_only: bool = False,
    overwrite: bool = False,
) -> Dataset:
    from muller_spark.session import get_spark

    spark = spark or get_spark()
    from muller_spark.fs import get_fs

    _fs = get_fs(path)
    if overwrite and _fs.isdir(path):
        _fs.rmtree(path)
    return Dataset(spark, path, read_only=read_only)


def load(path: str, spark: SparkSession | None = None, read_only: bool = False) -> Dataset:
    """Open existing dataset; supports ``path@branch`` AND
    ``path@commit-id`` addressing (reference ``api/dataset/core.py:132``
    resolves any commit address through checkout).  A commit-id address
    opens a detached historical snapshot — the one-step time-travel read
    a lakehouse user reaches for (``load("ds@<commit>")``) without an
    explicit ``checkout`` call; ``commit()`` stays refused until a
    branch is forked (same detached-HEAD guard as ``checkout``)."""
    from muller_spark.session import get_spark

    spark = spark or get_spark()
    address = "main"
    if "@" in os.path.basename(path):
        path, address = path.rsplit("@", 1)
    ds = Dataset(spark, path, read_only=read_only)
    if address != "main":
        ds.checkout(address)  # branch name or commit id — log.resolve handles both
    return ds


def empty(path: str, spark: SparkSession | None = None, overwrite: bool = False) -> Dataset:
    return dataset(path, spark, overwrite=overwrite)


def like(path: str, source: Dataset, spark: SparkSession | None = None) -> Dataset:
    """Clone schema, not data (reference ``api/dataset/core.py:255``)."""
    out = dataset(path, spark or source.spark, overwrite=True)
    for name, meta in source.tensor_meta.items():
        if not meta.get("hidden") and not name.startswith("_"):
            out.create_tensor(name, meta.get("htype", "generic"), meta.get("dtype"))
    out.commit("schema from like()")
    return out


def delete(path: str) -> None:
    from muller_spark.fs import get_fs

    _fs = get_fs(path)
    if _fs.isdir(os.path.join(path, "_log")):
        _fs.rmtree(path)

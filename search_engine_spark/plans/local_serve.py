"""Driver-local (no-Spark) serving fast path over the persisted index.

The reference's flagship entry point is an interactive
``GET /api/search`` (controllers/ApiController.java:72-89) with
human-latency expectations; every query through the Spark path
(plans/wand.py:search_compact) pays ~0.8-1.5 s of fixed job
orchestration regardless of data size.  The compact index is just
bucket-partitioned parquet plus a JSON snapshot descriptor, so a
single query needs no cluster at all:

- the snapshot descriptor (``stats.json`` / ``snapshots/gen-N.json``)
  is read once per :class:`LocalIndex` — same commit-point semantics
  as ``load_compact_index`` (one consistent generation of every
  table, never new postings with old term_stats);
- pyarrow prunes the segment scan to the query terms' bucket
  directories (hive partition filter) and, inside a bucket file, to
  the right row groups (rows are term-sorted at write time, so the
  per-row-group term min/max statistics — plus the parquet term bloom
  filter when written — skip everything else);
- the numpy block codec (functions/codec.py) decodes only the query
  terms' posting blocks; BM25 scoring, tombstone masking, top-k and
  the (score desc, id asc) tie-break all run vectorized on the
  driver.

Rank-identity with ``search_compact`` is by construction — same
analyzer (plans/search.analyze_query), same Robertson IDF with the
global-df/local-N quirk, same rarest-term candidate rule (R13), same
``u`` arithmetic (functions/codec.bm25_u), same tie-break — and is
pinned by tests/test_local_serve.py across fresh builds, appends,
tombstones, vacuum, time travel, site restriction and pagination.

Scale posture: this is the SERVING path, deliberately single-node.
One query touches O(#query-terms) bucket partitions — a few MB of
parquet regardless of corpus size, because bucket count and row-group
pruning scale with the index layout, not the corpus.  Bulk/batch
evaluation stays on the cluster path (``search_many_compact``).  The
same layout serves from any pyarrow-reachable store (local, HDFS,
S3) behind a thin service; per-index LRU memos for df and decoded
postings make hot-vocabulary queries metadata-free.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from search_engine_spark.functions.codec import bm25_u, read_block
from search_engine_spark.operators.compact import bucket_of
from search_engine_spark.lru import BoundedLRU
from search_engine_spark.plans.search import (
    analyze_query,
    rarest_term,
    robertson_idf,
)

# per-index memo caps (serving processes are long-lived; a crawl-wide
# vocabulary must not accumulate without bound).  Eviction rule:
# search_engine_spark/lru.BoundedLRU.
_DF_MEMO_CAP = 262_144
_POSTINGS_MEMO_CAP_ROWS = 4_000_000
_SITE_N_MEMO_CAP = 1_024
_DOC_MEMO_CAP = 262_144
# batches larger than this bypass the doc memo entirely (the
# site-restriction candidate resolve can be corpus-sized; churning
# the hot-result memo through it would evict everything useful)
_DOC_MEMO_MAX_BATCH = 4_096


def _fs_path(out_dir: str):
    """(pyarrow FileSystem, path) for a local path or URI."""
    from pyarrow import fs as pafs

    if "://" in out_dir:
        return pafs.FileSystem.from_uri(out_dir)
    return pafs.LocalFileSystem(), os.path.abspath(out_dir)


class LocalSnapshotError(RuntimeError):
    """Requested generation is not readable from this index dir."""


def pyarrow_segment_dirs(fs, root: str, meta: dict) -> list[str]:
    """Segment directories of ONE committed generation: the base
    ``index/`` plus every delta epoch the descriptor lists (LSM
    visibility — an epoch a concurrent append has materialized but
    not committed does not exist for this reader; directory listing
    is the fallback for legacy descriptors without ``delta_epochs``).

    The single pyarrow implementation of the visibility rule —
    shared by :class:`LocalIndex` and the maintenance driver fast
    paths (plans/incremental._driver_terms_dec), mirroring
    plans/build.delta_epoch_dirs on the JVM side."""
    paths_map = meta.get("paths") or {}
    dirs = [os.path.join(root, paths_map.get("index", "index"))]
    deltas_rel = paths_map.get("index_deltas", "index_deltas")
    deltas = os.path.join(root, deltas_rel)
    epochs = meta.get("delta_epochs")
    if epochs is None:
        from pyarrow import fs as pafs

        epochs = []
        if fs.get_file_info(deltas).type != pafs.FileType.NotFound:
            infos = fs.get_file_info(pafs.FileSelector(deltas))
            epochs = [
                i.path.rsplit("/", 1)[-1]
                for i in infos
                if i.path.rsplit("/", 1)[-1].startswith("epoch=")
            ]
    epochs = sorted(epochs, key=lambda n: int(n.split("=", 1)[1]))
    return dirs + [os.path.join(deltas, ep) for ep in epochs]


class LocalIndex:
    """One committed generation of a persisted compact index, opened
    for driver-local querying (no SparkSession anywhere).

    ``gen=None`` opens the current commit; an integer opens the
    archived snapshot descriptor (time travel — same masking rules as
    plans/incremental.open_index_at: post-snapshot doc ids are hidden
    via the archived ``next_id_segment`` ceiling, post-snapshot delta
    epochs are invisible because the descriptor does not list them).
    """

    def __init__(self, out_dir: str, gen: int | None = None):
        self.out_dir = out_dir
        self._fs, self._root = _fs_path(out_dir)
        meta = self._read_json("stats.json")
        if gen is not None and int(gen) != int(meta.get("gen", 0)):
            try:
                meta = self._read_json(
                    os.path.join("snapshots", f"gen-{int(gen)}.json")
                )
            except FileNotFoundError:
                raise LocalSnapshotError(
                    f"no archived descriptor for generation {gen}"
                ) from None
        self.meta = meta
        self.gen = int(meta.get("gen", 0))
        self.n_docs = int(meta["n_docs"])
        self.avg_len = float(meta["avg_len"])
        self.k1 = float(meta["k1"])
        self.b = float(meta["b"])
        self.id_col = meta["id_col"]
        self.n_buckets = int(meta["n_buckets"])
        self.stoplist = tuple(meta["stoplist"])
        self.analyzer = meta.get("analyzer", "lemma")
        self._id_ceiling = (
            (int(meta.get("next_id_segment", 1 << 20)) << 40)
            if gen is not None
            else None
        )
        # one bounded LRU per memo (thread-safe: jobs/serve.py runs
        # concurrent request threads over a shared LocalIndex); caps
        # are read here, when the memo is created
        self._df_memo = BoundedLRU(_DF_MEMO_CAP)
        self._post_memo = BoundedLRU(
            _POSTINGS_MEMO_CAP_ROWS, weight=lambda e: int(e[0].size)
        )
        self._site_n_memo = BoundedLRU(_SITE_N_MEMO_CAP)
        self._doc_memo = BoundedLRU(_DOC_MEMO_CAP)
        self._datasets = None
        self._docs_ds = None
        self._ts_ds = None
        self._tombstones = None

    # -- table access -------------------------------------------------

    def _read_json(self, rel: str) -> dict:
        path = os.path.join(self._root, rel)
        try:
            with self._fs.open_input_stream(path) as f:
                return json.loads(f.read().decode("utf-8"))
        except OSError as e:
            raise FileNotFoundError(str(e)) from None

    def _table_dir(self, table: str) -> str:
        rel = (self.meta.get("paths") or {}).get(table, table)
        return os.path.join(self._root, rel)

    def _dir_exists(self, path: str) -> bool:
        from pyarrow import fs as pafs

        info = self._fs.get_file_info(path)
        return info.type != pafs.FileType.NotFound

    def _segment_datasets(self):
        """One hive-partitioned dataset per segment directory: the
        base ``index/`` plus every delta epoch the descriptor lists
        (LSM visibility — an uncommitted epoch dir does not exist for
        this reader).  Discovery (file listing) happens once per
        LocalIndex."""
        if self._datasets is not None:
            return self._datasets
        import pyarrow.dataset as ds

        dirs = pyarrow_segment_dirs(self._fs, self._root, self.meta)
        gone = [d for d in dirs if not self._dir_exists(d)]
        if gone:
            # descriptor-listed segments must exist; silently skipping
            # them would serve partial results from an expired
            # time-travel generation (the Spark path fails loudly with
            # SnapshotExpiredError — match it)
            raise LocalSnapshotError(
                f"segment dir(s) missing for generation {self.gen}: "
                f"{sorted(os.path.relpath(d, self._root) for d in gone)}"
            )
        self._datasets = [
            ds.dataset(d, filesystem=self._fs, partitioning="hive")
            for d in dirs
        ]
        return self._datasets

    def _docs_dataset(self):
        if self._docs_ds is None:
            import pyarrow.dataset as ds

            self._docs_ds = ds.dataset(
                self._table_dir("docs"), filesystem=self._fs
            )
        return self._docs_ds

    def _term_stats_dataset(self):
        if self._ts_ds is None:
            import pyarrow.dataset as ds

            self._ts_ds = ds.dataset(
                self._table_dir("term_stats"), filesystem=self._fs
            )
        return self._ts_ds

    def tombstones(self) -> np.ndarray:
        """Sorted int64 doc_ids of logically-deleted docs (empty array
        when the generation has none)."""
        if self._tombstones is None:
            tomb_dir = self._table_dir("tombstones")
            if self._dir_exists(tomb_dir):
                import pyarrow.dataset as ds

                t = ds.dataset(
                    tomb_dir, filesystem=self._fs
                ).to_table(columns=["doc_id"])
                self._tombstones = np.sort(
                    t.column("doc_id").to_numpy(zero_copy_only=False)
                ).astype(np.int64)
            else:
                self._tombstones = np.empty(0, dtype=np.int64)
        return self._tombstones

    # -- stats --------------------------------------------------------

    def term_df(self, terms: list[str]) -> dict[str, int]:
        """Global document frequency per term (0 = not in the
        dictionary), LRU-memoized per index object."""

        def fill(missing):
            import pyarrow.compute as pc

            tbl = self._term_stats_dataset().to_table(
                filter=pc.field("term").isin(missing),
                columns=["term", "df"],
            )
            found = dict(
                zip(
                    tbl.column("term").to_pylist(),
                    (int(x) for x in tbl.column("df").to_pylist()),
                )
            )
            return {t: found.get(t, 0) for t in missing}

        return self._df_memo.fetch(terms, fill)

    def _site_n(self, sites: list[str]) -> int:
        """N restricted to ``sites`` (sum of site_stats pages) — the
        reference's local-N quirk (SearchServiceImpl.java:244-255).
        The key comes straight from the HTTP query string — a small
        LRU cap keeps a hostile/diverse client from growing the
        long-lived server's memory without bound."""
        key = frozenset(sites)

        def fill(_missing):
            import pyarrow.compute as pc
            import pyarrow.dataset as ds

            tbl = ds.dataset(
                self._table_dir("site_stats"), filesystem=self._fs
            ).to_table(filter=pc.field("site").isin(sites))
            return {key: int(sum(tbl.column("pages").to_pylist()))}

        return self._site_n_memo.fetch([key], fill)[key]

    def query_idf(
        self, terms: list[str], sites: list[str] | None = None
    ) -> dict[str, float]:
        """Robertson IDF with the global-df / local-N quirk
        (plans.search.robertson_idf, shared with the Spark path)."""
        if not terms:
            return {}
        n = self._site_n(sites) if sites else self.n_docs
        return robertson_idf(n, self.term_df(terms))

    # -- postings -----------------------------------------------------

    def postings(
        self, terms: list[str]
    ) -> dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]]:
        """Decoded postings per term: ``{term: (doc_ids, tfs,
        doc_lens)}`` (uint64 arrays, sorted by doc_id within each
        segment run).  Bucket-pruned + row-group-pruned parquet read,
        numpy block decode, LRU-memoized by total decoded rows."""

        def fill(need):
            import pyarrow.compute as pc

            buckets = sorted({bucket_of(t, self.n_buckets) for t in need})
            filt = pc.field("bucket").isin(buckets) & pc.field(
                "term"
            ).isin(need)
            cols = ["term", "count", "doc_ids", "tfs", "doc_lens"]
            per_term: dict[str, list] = {t: [] for t in need}
            for dset in self._segment_datasets():
                tbl = dset.to_table(filter=filt, columns=cols)
                if tbl.num_rows == 0:
                    continue
                tdf = tbl.to_pandas()
                for term_v, cnt, p_ids, p_tfs, p_dls in zip(
                    tdf["term"], tdf["count"], tdf["doc_ids"],
                    tdf["tfs"], tdf["doc_lens"],
                ):
                    per_term[term_v].append(
                        read_block(
                            {
                                "count": int(cnt),
                                "doc_ids": p_ids,
                                "tfs": p_tfs,
                                "doc_lens": p_dls,
                            }
                        )
                    )
            filled = {}
            for t, runs in per_term.items():
                if not runs:
                    filled[t] = (
                        np.empty(0, np.uint64),
                        np.empty(0, np.uint64),
                        np.empty(0, np.uint64),
                    )
                else:
                    filled[t] = tuple(
                        np.concatenate([r[i] for r in runs])
                        for i in range(3)
                    )
            return filled

        return self._post_memo.fetch(terms, fill)

    def _resolve_docs(
        self, doc_ids: np.ndarray, with_title: bool = False
    ) -> pd.DataFrame:
        """(doc_id, <id_col>, site[, title]) for the given ids —
        filtered parquet read; the docs table's row groups carry
        tight doc_id min/max ranges (one id segment per write
        partition), so the IN-list predicate prunes to the few row
        groups that can match.

        Small batches (the top-k result pool) go through a per-index
        LRU memo of doc_id → (id, site, title) so hot result sets
        skip the parquet read entirely; absent ids are negative-cached
        as ``None``.  Corpus-sized batches (the site-restriction
        candidate resolve) bypass the memo — churning the hot-result
        cache through them would evict everything useful.  The memo
        needs no invalidation: a LocalIndex is one committed
        generation, and maintenance hands back fresh objects."""
        import pyarrow.compute as pc

        ds_docs = self._docs_dataset()
        has_title = "title" in ds_docs.schema.names
        read_cols = ["doc_id", self.id_col, "site"] + (
            ["title"] if has_title else []
        )
        out_cols = ["doc_id", self.id_col, "site"] + (
            ["title"] if (with_title and has_title) else []
        )
        if doc_ids.size == 0:
            return pd.DataFrame(columns=out_cols)
        ids64 = doc_ids.astype(np.int64)
        if ids64.size > _DOC_MEMO_MAX_BATCH:
            tbl = ds_docs.to_table(
                filter=pc.field("doc_id").isin(ids64.tolist()),
                columns=out_cols,
            )
            return tbl.to_pandas()

        ids = [int(i) for i in np.unique(ids64)]

        def fill(missing):
            tbl = ds_docs.to_table(
                filter=pc.field("doc_id").isin(missing),
                columns=read_cols,
            )
            titles = (
                tbl.column("title").to_pylist()
                if has_title
                else [None] * tbl.num_rows
            )
            found = {
                int(d): (v, s, ti)
                for d, v, s, ti in zip(
                    tbl.column("doc_id").to_pylist(),
                    tbl.column(self.id_col).to_pylist(),
                    tbl.column("site").to_pylist(),
                    titles,
                )
            }
            return {i: found.get(i) for i in missing}

        held = self._doc_memo.fetch(ids, fill)
        rows = [
            (i, *held[i]) for i in ids if held[i] is not None
        ]
        df = pd.DataFrame(
            rows, columns=["doc_id", self.id_col, "site", "title"]
        )
        return df[out_cols]

    # -- search -------------------------------------------------------

    def search(
        self,
        query: str,
        sites: list[str] | None = None,
        offset: int = 0,
        limit: int = 20,
        lang: str = "english",
        analyzer: str | None = None,
        use_stoplist: bool = True,
        with_total: bool = False,
        include_title: bool = False,
    ) -> pd.DataFrame:
        """Top-(offset..offset+limit) BM25 — ``(<id_col>, site,
        score, rn)`` with the same rows and ranks as
        plans.wand.search_compact on the same generation.

        ``with_total=True`` returns ``(frame, total)`` where total is
        the full candidate-result count (the reference
        SearchResponse's ``count``).  ``include_title=True`` adds a
        ``title`` column when the docs table carries one (html-built
        indexes)."""
        analyzer = analyzer or self.analyzer
        terms = analyze_query(query, lang, analyzer)
        if use_stoplist:
            stop = set(self.stoplist)
            terms = [t for t in terms if t not in stop]
        idf = self.query_idf(terms, sites)
        terms = [t for t in terms if t in idf]
        empty = pd.DataFrame(
            {
                self.id_col: pd.Series(dtype=object),
                "site": pd.Series(dtype=object),
                "score": pd.Series(dtype=np.float64),
                "rn": pd.Series(dtype=np.int64),
            }
        )
        if not terms:
            return (empty, 0) if with_total else empty

        rarest = rarest_term(idf, terms)
        k = offset + limit
        post = self.postings(terms)

        # candidates = rarest term's postings (R13), minus tombstones
        cand = post[rarest][0].astype(np.int64)
        if self._id_ceiling is not None:
            cand = cand[cand < self._id_ceiling]
        tomb = self.tombstones()
        if tomb.size:
            pos = np.searchsorted(tomb, cand)
            pos[pos == tomb.size] = 0
            cand = cand[tomb[pos] != cand]
        if cand.size == 0:
            return (empty, 0) if with_total else empty
        cand = np.sort(cand)

        site_of: pd.DataFrame | None = None
        if sites:
            # R2: site restriction prunes candidates (doc lookup is
            # the filtered-docs read; reused below for the top pool)
            site_of = self._resolve_docs(cand)
            site_of = site_of[site_of["site"].isin(sites)]
            cand = np.sort(site_of["doc_id"].to_numpy(np.int64))
            if cand.size == 0:
                return (empty, 0) if with_total else empty

        # score: Σ_t idf_t · u_t over the terms each candidate has,
        # accumulated in ascending-term order (deterministic)
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in sorted(terms):
            ids, tfs, dls = post[t]
            ids = ids.astype(np.int64)
            u = bm25_u(tfs, dls, self.avg_len, self.k1, self.b)
            pos = np.searchsorted(cand, ids)
            pos_c = np.clip(pos, 0, cand.size - 1)
            hit = cand[pos_c] == ids
            np.add.at(scores, pos_c[hit], idf[t] * u[hit])

        if cand.size > k:
            kth = np.partition(scores, cand.size - k)[cand.size - k]
            pool_mask = scores >= kth
        else:
            pool_mask = np.ones(cand.size, dtype=bool)
        pool_ids = cand[pool_mask]
        pool_scores = scores[pool_mask]

        if site_of is not None and not include_title:
            docs = site_of[site_of["doc_id"].isin(pool_ids)]
        else:
            docs = self._resolve_docs(
                pool_ids, with_title=include_title
            )
        docs = docs.set_index("doc_id")
        cols = {
            "doc_id": pool_ids,
            "score": pool_scores,
            self.id_col: docs.loc[pool_ids, self.id_col].to_numpy(),
            "site": docs.loc[pool_ids, "site"].to_numpy(),
        }
        if include_title and "title" in docs.columns:
            cols["title"] = docs.loc[pool_ids, "title"].to_numpy()
        order = pd.DataFrame(cols).sort_values(
            ["score", self.id_col], ascending=[False, True],
            kind="mergesort",
        )
        top = order.head(k).reset_index(drop=True)
        top["rn"] = np.arange(1, len(top) + 1, dtype=np.int64)
        top = top[top["rn"] > offset]
        keep = [self.id_col, "site", "score", "rn"]
        if "title" in top.columns:
            keep.append("title")
        out = top[keep].reset_index(drop=True)
        return (out, int(cand.size)) if with_total else out


def open_local_index(out_dir: str, gen: int | None = None) -> LocalIndex:
    """Open a persisted index directory for no-Spark serving."""
    return LocalIndex(out_dir, gen=gen)

"""Segment-pruned top-k scoring over compressed posting blocks (WAND-style).

Stage 4 of the build plan (SURVEY.md SS7.5).  Distributed adaptation of
block-max WAND: the reference prunes with a two-stage ranker + batched early
termination (SURVEY.md R4/R6); a sequential doc-at-a-time WAND does not map
onto Spark's execution model, so pruning happens at segment granularity
(8192-doc aligned ranges, compaction.py) with block-max metadata:

  phase 0  per-seg upper bound = sum over query terms of max block ub;
           for queries with must-match keywords (required terms, And
           branches) only segments containing EVERY must keyword survive
           (the segment-level analog of posting-list intersection, U3)
  phase 1  score the top-S segments by upper bound -> threshold theta =
           k-th best score found (a LOWER bound on the true k-th score)
  phase 2  score only the remaining segments with ub_seg >= theta
  merge    exact top-k by (score desc, doc_id asc)

Pruning is correct for any monotone-positive score: a doc in a pruned
segment scores <= ub_seg < theta <= true k-th score, so it cannot enter the
top-k; a doc in a must-pruned segment lacks a keyword every scoring doc
needs.  Ties at theta live in un-pruned segments and are resolved by the
final exact sort.

Routing (search_local): the query is parsed and the index refreshed once.
The flat engine (engine.py) serves every query the segment plan does not
own -- -n, universal, only-excluded, a keyword both excluded and positive,
no blocks table -- through its _local_hits, and every query its driver
lane (_driver_hits) can answer with no Spark job, quoted exact and
excluded ("rescue") terms included: their needles resolve on the driver
too.  The segment plan serves the rest: queries whose reads exceed the
driver budget, and rescue queries with a needle too large to memoize;
rescue rows come from the flat engine's resolver and are re-encoded as
synthetic blocks.

One in-segment scorer (_score_segs): decode the blocks into per-term tf
lanes, mask by the must keywords, then lanes.eval_and_score on its numpy
backend -- the scorer the flat engine runs on its Column backend and its
driver lane, so rank identity is structural.  Plain OR-bags also skip
blocks that cannot reach phase 2's theta.

The segment plan stays in DataFrames: segment scoring is one Arrow
applyInPandas over (seg) groups over decoded blocks.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from probe_spark import elastic, oracle
from probe_spark.compaction import (
    BLOCKS_SCHEMA,
    SEG_BITS,
    SEG_SIZE,
    encode_posting_group,
)
from probe_spark.config import DEFAULT_BM25, BM25Params
from probe_spark.engine import SearchEngine
from probe_spark.lanes import tf_part

_SCORE_SCHEMA = "doc_id long, score double"


def _lit_map(values: dict[str, float]):
    """Literal map Column term -> value (missing terms fall out as null,
    which nulls the product -- those blocks contribute no upper bound)."""
    return F.create_map(
        *[x for t, v in sorted(values.items()) for x in (F.lit(t), F.lit(v))]
    )


def _positive_keywords(plan) -> Counter:
    """Keywords of the query's non-excluded Terms, counted once per Term
    node (empty for universal, stopword-only and only-excluded
    queries)."""
    if plan.ast is None or plan.is_universal_query:
        return Counter()
    return Counter(
        kw
        for t in elastic.walk_terms(plan.ast)
        if not t.excluded
        for kw in t.lowercase_keywords
    )


def _segment_owned(plan) -> bool:
    """Queries the segment plan can serve: some positive keyword, and none
    that is also excluded (that keyword would mix containment-rescue df
    with dictionary df -- the flat engine owns that corner).  Field
    filters are served by semi-joining the scored docs against the
    filtered doc set (filters only REMOVE docs, so segment upper-bound
    pruning stays sound)."""
    pos = _positive_keywords(plan).keys()
    return bool(pos) and not (pos & plan.excluded_terms)


def _must_keywords(plan) -> frozenset[str]:
    """Keywords every scoring doc must contain -- the segment-intersection
    prune set.  With required terms anywhere, B1's required-first rule
    (elastic_query.rs:109-146) makes all keywords of every required term
    mandatory and optional terms vacuous.  Without required terms, the
    boolean structure decides: And needs both sides, Or either side, a
    single-keyword Term needs its keyword (multi-keyword terms match on
    ANY keyword, so they contribute no must)."""
    ast = plan.ast
    if plan.has_required_anywhere:
        kws: set[str] = set()
        for t in elastic.walk_terms(ast):
            if t.required and not t.excluded:
                kws.update(t.lowercase_keywords)
        return frozenset(kws)

    def must(e) -> set[str]:
        if isinstance(e, elastic.Term):
            if e.excluded:
                return set()  # an excluded keyword is never a must
            if len(e.lowercase_keywords) == 1:
                return set(e.lowercase_keywords)
            return set()
        if isinstance(e, elastic.And):
            return must(e.left) | must(e.right)
        return must(e.left) & must(e.right)

    return frozenset(must(ast))


def _is_disjunctive_bag(plan) -> bool:
    """True when the query is a pure OR-bag of optional non-exact terms:
    score == sum of per-term BM25 and match == any term present.  Only
    such a query gets _score_segs' intra-segment block skipping, whose
    bound is that per-keyword sum."""
    if plan.ast is None or plan.has_required_anywhere or plan.excluded_terms:
        return False
    all_kws: list[str] = []
    for t in elastic.walk_terms(plan.ast):
        if t.exact or t.excluded or t.required:
            return False
        # multi-keyword terms (compound splits, e.g. "deadline" ->
        # dead+line) sum INSIDE the Term first, then node totals add --
        # the same value as the flat keyword sum but a different f64
        # association (observed flipping the last ulp at 100k docs), so
        # the skip bound is kept to single-keyword terms
        if len(t.lowercase_keywords) > 1:
            return False
        all_kws.extend(t.lowercase_keywords)
    # a keyword repeated across Term nodes contributes once per node to the
    # expression score (e.g. "repository OR repositori" where the exception
    # dual-emit puts "repositori" in both terms) -- the flat per-term bound
    # would undercount it
    if len(all_kws) != len(set(all_kws)):
        return False

    def only_or(e) -> bool:
        if isinstance(e, elastic.Term):
            return True
        if isinstance(e, elastic.Or):
            return only_or(e.left) and only_or(e.right)
        return False

    return only_or(plan.ast)


class WandEngine:
    """Top-k search over the compacted ``blocks`` table."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        params: BM25Params = DEFAULT_BM25,
        phase1_segs: int = 8,
        phase2_batch: int = 256,
    ):
        """``phase2_batch``: max segments scored per phase-2 job.  Phase 2
        walks the remaining segments in upper-bound order, BATCHED: theta
        is re-tightened from the merged top-k after every batch, and the
        walk stops as soon as the next batch's best bound cannot beat it
        -- so a tail query whose theta rises quickly scores a few hundred
        segments instead of every seg_ub >= theta(initial) segment in one
        unbounded job (the r4 10M-doc p99 shape)."""
        self.spark = spark
        self.index_dir = str(index_dir)
        self.params = params
        self.phase1_segs = phase1_segs
        self.phase2_batch = phase2_batch
        # per-(term, seg) max tf_part cache: phase 0's upper bounds are a
        # pure function of block metadata + (n_docs, avgdl); persisting
        # the aggregate across queries removes the per-query blocks-scan
        # half of phase 0 (see _seg_stats)
        self._seg_stats_df: DataFrame | None = None
        self._seg_stats_key: tuple | None = None
        self._fallback = SearchEngine(spark, index_dir, params)
        self.n_docs, self.avgdl = self._fallback.n_docs, self._fallback.avgdl
        self._blocks_path = str(Path(self.index_dir) / "blocks")
        # create the blocks reader once: spark.read.parquet re-lists files
        # and re-infers partitioning on every call (engine.py does the same
        # for its tables) -- measurable fixed overhead per query.  The
        # cached listing is invalidated by compaction fingerprint (below):
        # a recompaction rmtree's blocks/ (stale listing -> missing files)
        # and incremental compaction adds bucket dirs the listing wouldn't
        # see, so queries after a compact_index in the same driver must
        # re-list.
        self._blocks_df = None
        self._blocks_fp: tuple | None = None
        # pin_hot flag: _refresh_blocks re-applies the executor-cache
        # persist to the fresh reader (and unpersists the stale one) when
        # an ingest/recompaction replaces the blocks frame -- mirroring
        # SearchEngine._reopen's pin bookkeeping
        self._pin = False
        self._refresh_blocks()

    def _compaction_fingerprint(self) -> tuple | None:
        """Cheap driver-side change marker for the blocks table: the
        compaction checkpoint's (mtime_ns, size) plus the set of bucket
        dirs.  One os.stat + one listdir per query -- no Spark jobs."""
        import os

        p = Path(self._blocks_path)
        if not p.exists():
            return None
        state = Path(self.index_dir) / "lineage" / "compaction.json"
        try:
            st = os.stat(state)
            marker = (st.st_mtime_ns, st.st_size)
        except FileNotFoundError:
            marker = None
        return (marker, tuple(sorted(d.name for d in p.iterdir())))

    def _refresh_blocks(self) -> None:
        # the flat fallback owns the index-level fingerprint (stats +
        # lineage): when an incremental ingest landed since the last query,
        # its readers/caches reopen and our snapshotted corpus stats must
        # follow (otherwise idf/avgdl would be stale vs a fresh engine)
        if self._fallback.check_refresh():
            self.n_docs = self._fallback.n_docs
            self.avgdl = self._fallback.avgdl
        fp = self._compaction_fingerprint()
        if fp != self._blocks_fp or self._blocks_df is None:
            self._blocks_fp = fp
            if self._blocks_df is not None:
                # drop the stale reader's cached blocks before replacing
                # it -- otherwise a pinned frame leaks in the cache
                # manager on every refresh until session end
                self._blocks_df.unpersist()
            self._blocks_df = (
                self.spark.read.parquet(self._blocks_path)
                if fp is not None
                else None
            )
            if self._pin and self._blocks_df is not None:
                from pyspark import StorageLevel

                # re-apply hot pinning across the refresh; fill is lazy
                # (first query materializes the cache)
                self._blocks_df = self._blocks_df.persist(
                    StorageLevel.MEMORY_AND_DISK
                )

    def _tfp_expr(self):
        """tf_part at a block's most favorable point (max_tf, min_dl) --
        increasing in tf, decreasing in dl, so it dominates every doc in
        the block at CURRENT global stats."""
        if self.avgdl <= 0:  # empty corpus
            return F.lit(0.0)
        return tf_part(
            F.col("max_tf").cast("double"),
            F.col("min_dl").cast("double"),
            self.avgdl,
            self.params,
        )

    def _max_tfp(self, blocks: DataFrame) -> DataFrame:
        """(term, seg, max_tfp) of ``blocks``: each (term, seg)'s largest
        block tf_part bound."""
        return (
            blocks.select("term", "seg", self._tfp_expr().alias("tfp"))
            .groupBy("term", "seg")
            .agg(F.max("tfp").alias("max_tfp"))
        )

    def _seg_stats(self) -> DataFrame:
        """(term, seg, max_tfp): the per-segment upper-bound statistics,
        persisted ACROSS queries.  idf * max(tfp) == max(idf * tfp)
        bit-exactly (multiplication by a positive constant is monotone in
        IEEE f64), so phase 0 built from this cache produces the same
        seg_ub values as the former per-query blocks aggregation --
        without re-scanning block metadata per query.  Keyed by
        (compaction fingerprint, n_docs, avgdl): any ingest or
        recompaction invalidates it."""
        key = (self._blocks_fp, self.n_docs, self.avgdl)
        if self._seg_stats_df is not None and self._seg_stats_key == key:
            return self._seg_stats_df
        if self._seg_stats_df is not None:
            self._seg_stats_df.unpersist()
        self._seg_stats_df = self._max_tfp(self._blocks_df).persist()
        self._seg_stats_key = key
        return self._seg_stats_df

    def pin_hot(self) -> None:
        """Interactive-serving pin: blocks table + the flat fallback's
        hot tables executor-cached (MEMORY_AND_DISK; see
        SearchEngine.pin_hot).  Survives _refresh_blocks reopens (the
        _pin flag re-applies the persist to the fresh reader and the
        stale pinned frame is unpersisted).  The per-(term, seg)
        upper-bound stats cache is materialized HERE, off the query
        path, so the first pinned query doesn't pay the one-time
        vocabulary-sized aggregation and cold-latency measurements
        aren't misattributed to that query."""
        from pyspark import StorageLevel

        self._pin = True
        self._refresh_blocks()
        if self._blocks_df is not None:
            self._blocks_df = self._blocks_df.persist(
                StorageLevel.MEMORY_AND_DISK
            )
            # eager one-time seg-stats build (ADVICE r5): count() fills
            # the persisted aggregate now rather than on first search
            self._seg_stats().count()
        self._fallback.pin_hot(materialize=False)

    def _score_segs(
        self,
        blocks: DataFrame,
        idfs: dict[str, float],
        k: int | None,
        plan,
        must_kws: tuple[str, ...],
        boost: bool = False,
        theta: float = 0.0,
    ) -> DataFrame:
        """Per-seg scoring: decode blocks into dense per-term tf lanes,
        intersect the must-keyword lanes to get candidates (any keyword
        when there is none), then evaluate + score the AST as numpy lane
        ops over the candidates (lanes.eval_and_score -- bit-identical to
        the scalar oracle, differential-tested).  ``boost`` applies the R7
        coverage boost.  Emits the seg's top-k (score desc, doc_id asc).

        ``theta`` > 0 enables INTRA-segment block skipping for plain
        OR-bags (_is_disjunctive_bag; phase 2 only; the reference's batched
        early termination at block granularity, ranking.rs two-stage
        analog): a block of term t is decoded only if ub_block(t) + sum
        over other terms of their seg-max block ub can still reach theta.
        Soundness: docs appear in exactly one block per (term, seg), so for
        any doc d touching a skipped block its true score <= that skipped
        block's combined bound < theta -- d either vanishes or surfaces
        with an underestimated partial score, and either way it cannot
        displace the phase-1 top-k (all >= theta).  Docs touching only
        kept blocks score EXACTLY as without skipping, so every score >=
        theta is exact and rank identity holds.  `_is_disjunctive_bag`
        guarantees no excluded terms (whose blocks must never be skipped
        -- missing an exclusion row would un-drop a doc) and keyword
        multiplicity 1 (no per-node re-count)."""
        params = self.params
        avgdl = self.avgdl
        ast = plan.ast
        term_indices = dict(plan.term_indices)
        n_terms = len(term_indices) if boost else 0
        skip = theta > 0.0 and _is_disjunctive_bag(plan)
        boost_cap = 1.0 + oracle.COVERAGE_BOOST_MULT  # max boost factor

        def score_group(pdf):
            import numpy as np
            import pandas as pd

            from probe_spark.codec import decode_doc_block, varbyte_decode
            from probe_spark.lanes import eval_and_score

            empty = pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"}
            )
            seg = int(pdf["seg"].iloc[0])
            base = seg << SEG_BITS
            if skip and avgdl > 0 and len(pdf) > 1:
                # same tf_part expression (and f64 op order) as the
                # scorer, evaluated at the block's (max_tf, min_dl)
                # corner: tf_part is increasing in tf and decreasing in
                # dl, so ub dominates every doc in the block
                tfp = tf_part(
                    pdf["max_tf"].to_numpy(dtype=np.float64),
                    pdf["min_dl"].to_numpy(dtype=np.float64),
                    avgdl,
                    params,
                )
                ub = (
                    pdf["term"].map(idfs).fillna(0.0).to_numpy(np.float64)
                    * tfp
                )
                s_ub = pd.Series(ub, index=pdf.index)
                tmax = s_ub.groupby(pdf["term"]).transform("max")
                bound = (
                    float(s_ub.groupby(pdf["term"]).max().sum())
                    - tmax.to_numpy()
                    + ub
                )
                bf = boost_cap if boost else 1.0
                # strict skip with 1e-12 relative slack: ub here and theta
                # (a collected phase-1 score) come from different f64
                # evaluation orders; the slack only weakens pruning, never
                # soundness
                pdf = pdf[bf * bound >= theta * (1.0 - 1e-12)]
                if len(pdf) == 0:
                    return empty
            tf_lane: dict[str, np.ndarray] = {}
            dl_lane = np.zeros(SEG_SIZE, dtype=np.int64)
            for term, docs, tfs, dls in zip(
                pdf["term"], pdf["docs"], pdf["tfs"], pdf["dls"]
            ):
                d = (decode_doc_block(docs) - base).astype(np.int64)
                lane = tf_lane.get(term)
                if lane is None:
                    lane = np.zeros(SEG_SIZE, dtype=np.int64)
                    tf_lane[term] = lane
                lane[d] = varbyte_decode(tfs).astype(np.int64)
                dl_lane[d] = varbyte_decode(dls).astype(np.int64)
            if must_kws:
                mask = None
                for kw in must_kws:
                    lane = tf_lane.get(kw)
                    if lane is None:
                        return empty
                    m = lane > 0
                    mask = m if mask is None else (mask & m)
            else:
                mask = np.zeros(SEG_SIZE, dtype=bool)
                for lane in tf_lane.values():
                    mask |= lane > 0
            cand = np.flatnonzero(mask)
            if len(cand) == 0:
                return empty
            sub = {t: lane[cand] for t, lane in tf_lane.items()}
            keep, scores = eval_and_score(
                ast,
                term_indices,
                sub,
                dl_lane[cand],
                avgdl,
                idfs,
                params,
                boost_terms=n_terms,
            )
            ids = (cand[keep] + base).astype(np.int64)
            sc = scores[keep]
            if len(ids) == 0:
                return empty
            if k is not None and len(ids) > k:
                # top-k by (score desc, doc_id asc): lexsort's last key is
                # primary, ids break score ties ascending
                order = np.lexsort((ids, -sc))[:k]
                ids, sc = ids[order], sc[order]
            return pd.DataFrame({"doc_id": ids, "score": sc})

        return blocks.groupBy("seg").applyInPandas(score_group, _SCORE_SCHEMA)

    def search(
        self,
        query: str,
        k: int = 10,
        exact: bool = False,
        with_matches: bool = False,
        boost_coverage: bool = False,
        exclude_filenames: bool = False,
    ) -> DataFrame:
        """Top-k as a ranked DataFrame (rank, doc_id, url, score) -- same
        shape as SearchEngine.search, urls hydrated from the doc store.
        ``with_matches`` and ``exclude_filenames`` route through the flat
        engine (rank-identical by the differential suite): block tf has no
        url split, so the -n match view needs the flat postings."""
        if with_matches or exclude_filenames:
            return self._fallback.search(
                query,
                k,
                exact=exact,
                boost_coverage=boost_coverage,
                with_matches=with_matches,
                exclude_filenames=exclude_filenames,
            )
        pairs = self.search_local(query, k, exact=exact, boost_coverage=boost_coverage)
        return self._fallback._hits_frame({"": pairs}).drop("query_id")

    def search_local(
        self,
        query: str,
        k: int = 10,
        exact: bool = False,
        timeout: float | None = None,
        boost_coverage: bool = False,
        exclude_filenames: bool = False,
    ) -> list[tuple[int, float]]:
        """Top-k as [(doc_id, score)], routed as the module docstring
        says.  ``timeout`` (seconds) cancels the query's Spark job group at
        the deadline and raises QueryTimeoutError (probe_spark.watchdog;
        the deadline covers the flat engine's lanes too -- they run inside
        the same job group).  ``boost_coverage`` applies the R7 coverage
        boost (in-segment, upper bounds are scaled by the max boost factor
        so pruning stays sound).  ``exclude_filenames`` routes to the flat
        engine (see search())."""
        from probe_spark.watchdog import query_deadline

        with query_deadline(self.spark, timeout):
            # refresh FIRST: idfs snapshot n_docs/df, so a stale view here
            # would survive into scoring
            self._refresh_blocks()
            plan = elastic.create_query_plan(query, exact)
            if (
                exclude_filenames
                or self._blocks_df is None
                or not _segment_owned(plan)
            ):
                return self._fallback._local_hits(
                    plan,
                    k,
                    boost_coverage=boost_coverage,
                    exclude_filenames=exclude_filenames,
                )
            # the flat engine's driver lane (0 Spark jobs) answers what
            # fits its read budget, rescue needles included; the rest are
            # segment-scored
            hits = self._fallback._driver_hits(
                plan, k, boost_coverage=boost_coverage, exclude_filenames=False
            )
            if hits is not None:
                return hits
            return self._segment_hits(plan, k, boost_coverage)

    def _synthetic_blocks(self, plan, terms: list[str]) -> DataFrame:
        """The flat engine's rows of ``terms`` (token postings UNION
        doc-store containment for rescue terms, tf = max), encoded as
        blocks the segment scorer reads like the on-disk ones."""
        return (
            self._fallback._term_rows(plan, terms, exclude_filenames=False)
            .withColumn("seg", F.shiftright(F.col("doc_id"), SEG_BITS))
            .groupBy("term", "seg")
            .applyInPandas(encode_posting_group, BLOCKS_SCHEMA)
        )

    def _segment_hits(
        self, plan, k: int, boost_coverage: bool
    ) -> list[tuple[int, float]]:
        """The segment plan's top-k of a query it owns (_segment_owned)."""
        # a keyword can appear in SEVERAL Term nodes (exception dual-emit,
        # e.g. "repository OR repositori" where both Terms carry
        # "repositori"); score_expr sums it once per node, so the upper
        # bound scales each term's contribution by its multiplicity.
        # Excluded Terms never ADD score -- they are not part of the bound.
        mult = _positive_keywords(plan)
        pos = set(mult)
        rescues = oracle.rescue_terms(plan)
        excl = sorted(plan.excluded_terms)
        dict_terms = sorted(pos - rescues)
        pos_rescues = sorted(pos & rescues)
        # every df, rescue needles and excluded terms included, from the
        # flat engine's one rule; terms no doc holds get no idf
        dfs = self._fallback._query_dfs(plan, exclude_filenames=False)
        idfs = {t: oracle.idf(self.n_docs, d) for t, d in dfs.items() if d}
        if not pos & idfs.keys():
            # no positive query term exists in the corpus (df = 0 for all):
            # nothing can score
            return []
        disjunctive = _is_disjunctive_bag(plan)
        must_kws = () if disjunctive else tuple(sorted(_must_keywords(plan)))

        blocks = (
            self._blocks_df.filter(F.col("term").isin(dict_terms))
            if dict_terms
            else None
        )
        # per-(term, seg) upper-bound stats for the query's dictionary
        # terms come from the cross-query _seg_stats cache; synthetic
        # rescue blocks contribute their own rows below
        qstats = (
            self._seg_stats().filter(F.col("term").isin(dict_terms))
            if dict_terms
            else None
        )
        if pos_rescues:
            # synthetic blocks for positive rescue (quoted exact) terms,
            # from the flat engine's rescue rows (token postings ∪
            # substring scan, tf = max), join the scoring set BEFORE
            # must-filtering and upper bounds, so segment pruning accounts
            # for them.  Dictionary blocks for these
            # terms are excluded above -- _term_rows already unioned token
            # postings in (max tf), a second copy would double-count.
            rblocks = self._synthetic_blocks(plan, pos_rescues)
            blocks = (
                rblocks
                if blocks is None
                else blocks.unionByName(rblocks, allowMissingColumns=True)
            )
            rstats = self._max_tfp(rblocks)
            qstats = (
                rstats if qstats is None else qstats.unionByName(rstats)
            )
        if must_kws:
            # segment-level posting intersection: only segments containing
            # EVERY must keyword can hold a scoring doc.  Computed from the
            # stats table (a (term, seg) row exists iff the term has >= 1
            # block in the segment -- the same membership the blocks-based
            # aggregation saw), and applied to the stats too so seg_ub
            # only ranks segments that can actually score.
            must_segs = (
                qstats.filter(F.col("term").isin(list(must_kws)))
                .groupBy("seg")
                .agg(F.count_distinct("term").alias("nt"))
                .filter(F.col("nt") == len(must_kws))
                .select("seg")
            )
            blocks = blocks.join(must_segs, "seg", "leftsemi")
            qstats = qstats.join(must_segs, "seg", "leftsemi")
        blocks = blocks.persist()

        sblocks = blocks
        if excl:
            # excluded terms: fetch their matching rows (token postings
            # UNION doc-store containment, the flat engine's rescue path),
            # encode them as synthetic blocks, and let the lane scorer
            # apply the drop semantics in-segment.  Only segments that hold
            # positive postings can score (every scoring doc needs a
            # positive keyword), so exclusion rows outside them are pruned.
            excl_blocks = self._synthetic_blocks(plan, excl).join(
                blocks.select("seg").distinct(), "seg", "leftsemi"
            )
            # allowMissingColumns: the on-disk table carries the bucket
            # partition column, the synthetic rows don't (scorer ignores it)
            sblocks = blocks.unionByName(
                excl_blocks, allowMissingColumns=True
            ).persist()

        # field filters (lang:/url:/ext:): semi-join the scored docs
        # against the filtered doc set.  Filters only REMOVE docs, so the
        # unfiltered upper bounds still dominate every survivor and theta
        # (computed from filtered phase-1 scores) stays a valid lower bound
        # on the filtered k-th score -- pruning remains sound.  df/idf stay
        # corpus-wide, matching the flat engine (stats before filters).
        fdocs = self._fallback._filtered_docs(plan)
        # with a field filter the in-segment top-k truncation must be
        # skipped (it would keep unfiltered docs and drop survivors); the
        # final TakeOrdered still reduces map-side, so each partition
        # forwards only k rows
        seg_k = None if fdocs is not None else k

        def score(bdf: DataFrame, theta: float = 0.0) -> DataFrame:
            s = self._score_segs(
                bdf, idfs, seg_k, plan, must_kws, boost_coverage, theta
            )
            if fdocs is not None:
                s = s.join(fdocs.select("doc_id"), "doc_id", "leftsemi")
            return s

        seg_ub_persisted = None
        rest_persisted = None
        try:
            # phase 0: per-seg upper bound at CURRENT global stats.  The
            # per-(term, seg) max tf_part comes from the persisted
            # _seg_stats cache (plus the synthetic rescue rows); scaling
            # by idf_now here keeps the bound fresh under incremental
            # ingest (a build-time ub would go stale -- and pruning
            # unsound -- once N/df/avgdl change).
            seg_ub = (
                qstats.withColumn(
                    "tub",
                    _lit_map(idfs)[F.col("term")]
                    * F.col("max_tfp")
                    * _lit_map({t: float(v) for t, v in mult.items()})[
                        F.col("term")
                    ],
                )
                .groupBy("seg")
                .agg(F.sum("tub").alias("seg_ub"))
            )
            if boost_coverage:
                # scored docs carry up to a (1 + MULT) coverage boost
                # (cov <= 1, exp >= 0): scale the bounds so theta (a
                # BOOSTED score) never prunes a segment that could still
                # beat it after boosting
                seg_ub = seg_ub.withColumn(
                    "seg_ub",
                    F.col("seg_ub") * F.lit(1.0 + oracle.COVERAGE_BOOST_MULT),
                )
            # phase 1: the top-ub segments are selected JVM-side (distributed
            # TakeOrdered + broadcast semi-join) and scored in the SAME job
            # as the selection -- one driver round-trip, no py4j isin list.
            # (Folding the former seg-ub collect into phase 1 was a fixed
            # ~1 job of per-query overhead.)
            seg_ub = seg_ub_persisted = seg_ub.persist()
            top = (
                seg_ub.orderBy(F.desc("seg_ub"), F.asc("seg"))
                .limit(self.phase1_segs)
                .select("seg")
            )
            p1 = (
                score(sblocks.join(F.broadcast(top), "seg", "leftsemi"))
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
                .collect()
            )
            results = [(int(r["doc_id"]), float(r["score"])) for r in p1]
            theta = results[k - 1][1] if len(results) >= k else 0.0

            # phase 2: remaining segments that could still beat theta
            # (anti-join against the same deterministic top selection --
            # seg_ub is persisted, so the cutoff is identical across
            # jobs), walked in upper-bound order in BATCHES of
            # phase2_batch segments.  After each batch the merged top-k
            # re-tightens theta; the walk stops when the next batch's
            # best bound is below it (ub-sorted: later batches are
            # smaller still), so no surviving doc is ever skipped but a
            # rising theta caps the work -- the unbounded single phase-2
            # job over every seg_ub >= theta(initial) segment was the r4
            # 10M-doc p99.  The batch window runs over segment METADATA
            # (orders of magnitude smaller than postings).
            from pyspark.sql.window import Window

            rest = seg_ub.join(top, "seg", "leftanti").filter(
                F.col("seg_ub") >= theta
            )
            rest = rest_persisted = rest.withColumn(
                "batch",
                (
                    (
                        F.row_number().over(
                            Window.orderBy(
                                F.desc("seg_ub"), F.asc("seg")
                            )
                        )
                        - 1
                    )
                    / self.phase2_batch
                ).cast("int"),
            ).persist()
            batch_ubs = (
                rest.groupBy("batch")
                .agg(F.max("seg_ub").alias("mx"))
                .orderBy("batch")
                .collect()
            )

            def _merge(rows) -> None:
                nonlocal theta
                results.extend(
                    (int(r["doc_id"]), float(r["score"])) for r in rows
                )
                results.sort(key=lambda x: (-x[1], x[0]))
                del results[max(k, 1) :]
                if len(results) >= k:
                    theta = results[k - 1][1]

            for b in batch_ubs:
                if len(results) >= k and float(b["mx"]) < theta:
                    break  # every later batch's bound is smaller still
                segs_b = rest.filter(
                    (F.col("batch") == int(b["batch"]))
                    & (F.col("seg_ub") >= theta)
                ).select("seg")
                # theta rides into the scorer for intra-segment block
                # skipping (plain OR-bags; see _score_segs)
                p2 = (
                    score(
                        sblocks.join(F.broadcast(segs_b), "seg", "leftsemi"),
                        theta=theta,
                    )
                    .orderBy(F.desc("score"), F.asc("doc_id"))
                    .limit(k)
                    .collect()
                )
                _merge(p2)
        finally:
            if seg_ub_persisted is not None:
                seg_ub_persisted.unpersist()
            if rest_persisted is not None:
                rest_persisted.unpersist()
            if sblocks is not blocks:
                sblocks.unpersist()
            blocks.unpersist()
        results.sort(key=lambda x: (-x[1], x[0]))
        return results[:k]

"""Incremental index maintenance: the reference's CDC loop, Spark-native.

Reference semantics being reproduced (SURVEY.md §2.8):
  T1   micro-batch: one call == one queue batch (IndexQueueProcessor.cs:26)
  T7   at-least-once + idempotence: re-running a batch is harmless — updates
       tombstone the old docID and append a fresh one keyed by url, deletes
       of already-dead docs are no-ops (Score.cs:17 doc-keyed upserts)
  T8   resume cursor: batches are selected by warc_ts > manifest.cursor —
       the keyset-cursor loop of ElasticModel.cs:44-54 / PumpAllScores
       --from; alternatively an explicit url list (the Redis queue analog,
       ScoreQueueItem.cs)
  T9   two-phase cutover: full build at a snapshot, then a catch-up
       incremental pass for rows that arrived mid-build, then alias swap
       (PumpAllScoresCommand.cs:57-65 --switch)
  routing: changed rows that pass ShouldIndex -> add (tombstone the previous
       docID if the url was already indexed); rows that fail it, or queued
       urls missing from the source -> delete (IndexQueueProcessor.cs:41-60,
       ElasticModel.cs:63-65)

Atomic commit protocol (generation pointers, the Iceberg-snapshot shape):
  * append tables (segments, docmap, fwd, tombstones) grow by whole
    gen=N subdirectories; versioned tables (dictionary, stats) are written
    to fresh {table}_v{K} dirs. NOTHING is visible until the single
    manifest os.replace flips generations/table pointers at the end.
  * every reader — this module, wand.py, serve.py — resolves its snapshot
    through the manifest (catalog.committed_gen_paths / resolve_table_dir),
    so a crash mid-generation leaves only invisible orphan dirs, which
    clean_orphan_generations removes on the next writer entry. A
    foreachBatch replay therefore re-applies onto the last committed state:
    no double-appended docID ranges, no lost delete deltas.
  * snapshot reads also remove the old self-append hazard: writes land in
    dirs no open plan has listed, so no staging dance and no dependence on
    Spark's cache-invalidation-on-write behavior.

Exactness at scale (unchanged by the protocol):
  * updates never rewrite old segments: the old docID is tombstoned and the
    new revision gets a fresh docID > all existing — docID ranges stay
    disjoint per generation, so a term's segment rows still concatenate into
    a sorted global posting list (operators/wand.py reads them as one).
  * collection statistics (N, sum_dl, per-term df) are maintained EXACTLY by
    deltas: additions contribute their own forward rows; deletions
    contribute the forward rows of the tombstoned docIDs — a PRUNED scan of
    the doc_id-clustered fwd table. This keeps incremental results
    rank-identical to a from-scratch rebuild (Lucene lets df drift until
    merge; our oracle defines truth over live docs).
  * compaction (``compact_index``) rewrites segments from live forward rows
    only, clearing tombstones — the segment-merge analog.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.build import (
    DICT_ROW_GROUP_BYTES,
    FWD_SCHEMA,
    GROUP_BATCH_ROWS,
    SEGMENT_ROW_GROUP_BYTES,
    arrow_batch_rows,
    build_segments_spimi,
    exploded_postings,
    fwd_split_bytes,
    materialize_forward,
    scan_split_bytes,
    write_dict_by_term,
)
from ..operators.docmap import assign_dense_ids
from ..operators.routing import with_should_index
from ..sources.catalog import (
    Catalog,
    clean_orphan_generations,
    committed_gen_paths,
    resolve_table_dir,
)

DOCMAP_SCHEMA = "url string, warc_ts timestamp, doc_id bigint"
TOMB_SCHEMA = "doc_id bigint"

# known-id resolution: batches whose vocabulary fits under this bound use a
# driver-held IN filter against the term-sorted dict_by_term projection
# (row-group-pruned point lookups); wider batches fall back to the
# distributed semi-join (a pushed IN list that wide costs more than the
# scan it prunes, and such a batch is approaching rebuild volume anyway)
KNOWN_ID_IN_MAX = 100_000


def _read_committed(
    spark: SparkSession, index_dir: str, table: str, schema: str
) -> DataFrame:
    """A stable snapshot of an append table: the committed gen dirs only.
    Writes of the in-flight generation can never leak into these plans."""
    paths = committed_gen_paths(index_dir, table)
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*paths)


def incremental_update(
    spark: SparkSession,
    docs: DataFrame,
    catalog: Catalog,
    schema_version: str,
    *,
    queue_urls: DataFrame | None = None,
    salt_group_cap: int | None = None,
) -> dict:
    """Apply one incremental batch to an existing index.

    ``docs``: the current state of the source table (url, warc_ts, html,
    text, lang). The batch is rows with warc_ts > manifest.cursor, or — if
    ``queue_urls`` (a 1-column 'url' DataFrame) is given — exactly those
    urls, resolved against the source (missing -> delete), mirroring the
    queue-consume path. Returns the updated manifest.
    """
    from ..session import ship_package

    ship_package(spark)
    cat = catalog
    cat.assert_writable(schema_version)
    m = cat.read_manifest(schema_version)
    assert m is not None and m["phases"].get("commit"), "no base index to update"
    _assert_format(m, cat.index_name(schema_version))
    # positional (v2) indexes: every generation carries the pos sidecar —
    # materialize_forward/build_segments_spimi thread the flag below, so
    # multi-generation positional phrase queries stay correct
    positions = bool(m.get("positions"))
    # declared docmap keyword columns (build_index(keyword_fields=...)) —
    # every generation's docmap must carry them or filter_term scans over
    # multi-generation indexes would silently miss newer docs
    keyword_fields = tuple(m.get("keyword_fields") or ())
    numeric_fields = tuple(m.get("numeric_fields") or ())
    # index-level membership: an all-langs base index keeps accepting all
    # langs incrementally (and never routes a live non-en doc to delete)
    include_all_langs = bool(m.get("include_all_langs"))
    idx = cat.index_dir(schema_version)
    # T7 replay safety: remove anything a crashed generation left behind
    clean_orphan_generations(idx)
    _drain_gc_pending(cat, schema_version)
    gen = int(m["generations"])
    ver = int(m.get("table_ver", 0)) + 1

    # ---- select the batch (T8 cursor or explicit queue) -------------------
    if queue_urls is not None:
        from ..operators.routing import dedup_last_write_wins

        # J3 within-batch dedup: a url re-queued twice in one batch keeps
        # only its newest revision (ToDictionary re-key + LWW, T11)
        batch = dedup_last_write_wins(
            queue_urls.select("url").distinct().join(docs, "url", "left")
        )
        cursor_pred = None
    else:
        cursor = m["cursor"]
        cursor_pred = F.col("warc_ts") > F.lit(cursor).cast("timestamp")
        batch = docs.filter(cursor_pred)
    if cursor_pred is not None:
        # cursor path: the persisted batch only ever feeds changed_urls and
        # the max(warc_ts) cursor (adds re-derive from ``docs`` below) —
        # persist just those two columns instead of caching the html blobs
        batch = batch.select("url", "warc_ts").persist()
    else:
        batch = with_should_index(batch, include_all_langs).persist()

    if cursor_pred is not None:
        # cursor batches: build the adds lineage straight off ``docs``
        # (filter + select only, never through the persisted batch) so
        # materialize_forward's direct no-staging path applies when docs
        # is a plain file scan — identical rows and, because the cache
        # preserves the scan's partition structure, identical docIDs
        from ..operators.routing import should_index_expr

        adds = (
            docs.filter(cursor_pred)
            .filter(should_index_expr(include_all_langs))
            .select(
                "url", "warc_ts", "html", *keyword_fields, *numeric_fields
            )
        )
    else:
        adds = batch.filter(F.col("should_index")).select(
            "url", "warc_ts", "html", *keyword_fields, *numeric_fields
        )

    docmap = _read_committed(spark, idx, "docmap", DOCMAP_SCHEMA)
    old_tombs = _read_committed(spark, idx, "tombstones", TOMB_SCHEMA)
    live = docmap.join(old_tombs, "doc_id", "left_anti")

    # every changed url that is currently live gets its old docID tombstoned
    # (update -> delete+add with fresh id; delete -> tombstone only)
    changed_urls = batch.select("url").distinct()
    new_tombs = live.join(changed_urls, "url", "left_semi").select("doc_id")
    new_tombs = new_tombs.persist()

    # ---- fresh docIDs for additions (ids extend the space: start=max+1) ---
    # ONE job yields both the docID bound (max over ALL committed ids — dead
    # ids must never be reused) and the delete count (live ∩ changed): the
    # left-join flags reproduce the anti/semi joins above row-for-row.
    # Tombstone doc_ids are unique by the commit protocol (a tombstoned doc
    # is no longer live, so it can never be tombstoned again), so the flag
    # join cannot duplicate docmap rows.
    bound = (
        docmap.join(old_tombs.withColumn("__dead", F.lit(1)), "doc_id", "left")
        .join(changed_urls.withColumn("__chg", F.lit(1)), "url", "left")
        .agg(
            F.max("doc_id").alias("max_doc"),
            F.count(
                F.when(F.col("__dead").isNull() & (F.col("__chg") == 1), 1)
            ).alias("n_del"),
        )
        .collect()[0]
    )
    max_doc = bound.max_doc
    n_del = int(bound.n_del)
    start_id = int(max_doc) + 1 if max_doc is not None else 0
    fwd_gen_dir = f"{resolve_table_dir(idx, 'fwd')}/gen={gen}"
    dm_gen_dir = f"{resolve_table_dir(idx, 'docmap')}/gen={gen}"
    # the new generation's fwd/docmap are STAGED into their (uncommitted)
    # gen dirs right away: one heavy scan, file-deterministic id projection
    # (operators/build.materialize_forward); a no-op batch leaves them as
    # orphans for clean_orphan_generations. n_add comes from the staging
    # offsets and the forward-table stats ride the fwd write (no follow-up
    # count()/agg() jobs over the generation just written).
    staged = materialize_forward(
        spark, adds, fwd_gen_dir, dm_gen_dir,
        os.path.join(idx, "_fwd_stage"), start_id=start_id,
        positions=positions, keyword_cols=keyword_fields,
        numeric_cols=numeric_fields,
    )
    n_add = int(staged["n_rows"])
    add_stats = staged["fwd"]  # {n, sum_dl, dl_min, postings}
    fwd_new = spark.read.parquet(fwd_gen_dir)
    # batch cursor: ONE job on the persisted batch, shared by the no-op
    # advance and the commit (max ignores the nulls a queue-resolve leaves)
    new_cursor = batch.agg(F.max("warc_ts")).collect()[0][0]

    if n_add == 0 and n_del == 0:
        # still advance the cursor past a batch of purely non-indexable rows
        # — otherwise every subsequent cursor batch re-scans them forever
        if queue_urls is None:
            if new_cursor is not None and (
                m["cursor"] is None or str(new_cursor) > m["cursor"]
            ):
                m["cursor"] = str(new_cursor)
                cat.write_manifest(schema_version, m)
        for df_ in (batch, new_tombs):
            df_.unpersist()
        return cat.read_manifest(schema_version)

    # ---- stats deltas (exact; see module doc) ------------------------------
    fwd_old = _read_committed(spark, idx, "fwd", FWD_SCHEMA)
    # the stats table is ONE row — read it driver-side with pyarrow instead
    # of paying a Spark job (the serving tier reads it the same way)
    import pyarrow.parquet as _pq

    st = _pq.read_table(resolve_table_dir(idx, "stats")).to_pylist()[0]

    # deleted docs' forward rows: pruned lookup in the doc-clustered fwd
    # (add-side stats came with the fwd write — see materialize_forward)
    fwd_dead = fwd_old.join(F.broadcast(new_tombs), "doc_id", "left_semi")
    del_stats = fwd_dead.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
        F.coalesce(F.sum(F.size("terms")), F.lit(0)).alias("postings"),
    ).collect()[0]
    n_docs2 = int(st["n_docs"]) + int(add_stats["n"]) - int(del_stats.n)
    sum_dl2 = (
        int(st["sum_dl"]) + int(add_stats["sum_dl"]) - int(del_stats.sum_dl)
    )
    dl_min2 = int(st["dl_min"])
    if add_stats["dl_min"] is not None:
        dl_min2 = min(dl_min2, int(add_stats["dl_min"]))
    total_postings2 = (
        int(st["total_postings"])
        + int(add_stats["postings"])
        - int(del_stats.postings)
    )

    # ---- dictionary deltas: BATCH vocabulary only --------------------------
    # The dictionary is generational (operators/dictionary.py): this commit
    # appends gen=K delta rows (term, term_id, df-delta) for exactly the
    # terms the batch touched — write volume ~ batch vocab, never corpus
    # vocab. Existing term_ids come from ONE column-pruned broadcast-semi
    # scan of the committed gens (matched rows only reach the shuffle);
    # fresh terms extend the dense id space from the manifest's max_term_id
    # counter (no vocabulary scan at all on the happy path).
    add_df = exploded_postings(fwd_new).groupBy("term").agg(
        F.count("*").alias("adds")
    )
    del_df = exploded_postings(fwd_dead).groupBy("term").agg(
        F.count("*").alias("dels")
    )
    deltas = add_df.join(del_df, "term", "full").select(
        "term",
        (
            F.coalesce(F.col("adds"), F.lit(0))
            - F.coalesce(F.col("dels"), F.lit(0))
        ).cast("bigint").alias("df"),
    )
    old_counters0 = m.get("counters") or {}
    max_tid = old_counters0.get("max_term_id")
    n_terms_old = old_counters0.get("terms")
    if max_tid is None or n_terms_old is None:
        # legacy manifest without vocab counters: one recovery scan
        from ..operators.dictionary import read_dictionary_merged

        magg = read_dictionary_merged(spark, idx).agg(
            F.max("term_id").alias("mt"), F.count("*").alias("n")
        ).collect()[0]
        max_tid = int(magg.mt) if magg.mt is not None else -1
        n_terms_old = int(magg.n)
    # the (term, df-delta) rows are batch-scoped by construction: collect
    # them once (one job — the only materialization of the delta shuffle)
    # and probe whether they fit the driver-resolved path
    delta_rows = deltas.limit(KNOWN_ID_IN_MAX + 1).collect()
    n_batch_terms = len(delta_rows)
    extra_persisted: list[DataFrame] = []
    if n_batch_terms <= KNOWN_ID_IN_MAX:
        # known ids: the term-sorted dict_by_term generations with the
        # batch vocabulary as a pushed IN filter — parquet row-group
        # pruning makes the per-batch dictionary READ ∝ batch vocab x
        # gens, never O(corpus vocabulary) (the lookup_term_info
        # term-seek pattern the query path uses). Fresh ids are then
        # assigned entirely driver-side in the SAME (df desc, term asc)
        # total order assign_dense_ids would use — no join, no dense-rank
        # jobs, one createDataFrame for the whole delta.
        from ..operators.dictionary import lookup_term_info

        known_map = lookup_term_info(
            spark, idx, [r.term for r in delta_rows]
        )
        fresh_rows = sorted(
            (r for r in delta_rows if r.term not in known_map),
            key=lambda r: (-int(r.df), r.term),
        )
        n_fresh = len(fresh_rows)
        rows = [
            (int(known_map[r.term][0]), r.term, int(r.df))
            for r in delta_rows
            if r.term in known_map
        ] + [
            (int(max_tid) + 1 + i, r.term, int(r.df))
            for i, r in enumerate(fresh_rows)
        ]
        dict_delta = spark.createDataFrame(
            rows, "term_id bigint, term string, df bigint"
        )
        dict_rows = rows  # driver-held: gen writes go through pyarrow below
    else:
        # degenerate giant-vocab batch (approaching rebuild volume): a
        # pushed IN list this wide costs more than the scan it prunes —
        # fall back to the distributed semi-join + dense-rank assignment
        deltas = deltas.persist()
        dict_committed = spark.read.parquet(
            *committed_gen_paths(idx, "dictionary")
        )
        known_ids = (
            dict_committed.join(
                F.broadcast(deltas.select("term")), "term", "left_semi"
            )
            .groupBy("term")
            .agg(F.max("term_id").alias("term_id"))
        )
        batch_dict = deltas.join(known_ids, "term", "left").persist()
        extra_persisted += [deltas, batch_dict]
        dict_rows = None
        known = batch_dict.filter(F.col("term_id").isNotNull()).select(
            "term_id", "term", "df"
        )
        fresh = assign_dense_ids(
            batch_dict.filter(F.col("term_id").isNull()).select("term", "df"),
            [F.desc("df"), F.asc("term")],
            "term_id",
            start_id=int(max_tid) + 1,
        ).select("term_id", "term", "df")
        dict_delta = known.unionByName(fresh).persist()
        extra_persisted.append(dict_delta)
        bd_agg = batch_dict.agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("term_id").isNull(), 1)).alias("fresh"),
        ).collect()[0]
        n_batch_terms = int(bd_agg.n)
        n_fresh = int(bd_agg.fresh)
    n_terms2 = int(n_terms_old) + int(n_fresh)
    max_tid2 = int(max_tid) + int(n_fresh)

    # ---- stage the generation (ALL writes land in uncommitted dirs;
    #      fwd/docmap gen dirs were staged by materialize_forward above) ----
    if n_del:
        new_tombs.write.mode("overwrite").parquet(
            f"{resolve_table_dir(idx, 'tombstones')}/gen={gen}"
        )
    seg_bytes_added = 0
    if int(add_stats["postings"]) > 0:
        id_span = start_id + n_add
        cap = salt_group_cap or max(50_000, max(n_add, 1) // 8)
        # norms version must be UNIQUE PER ATTEMPT, not per generation: a
        # crash-and-replay of the same gen re-stages fwd_gen_dir with
        # possibly different (doc_id -> dl) packing, and reused python
        # workers would serve the crashed attempt's cached norms for the
        # same (path, version) key. mark_phase bumps the manifest's
        # monotonic commit_seq, so reading it here gives each attempt a
        # fresh cache version (and a staging wall-time record).
        cat.mark_phase(schema_version, f"incremental_gen{gen}", "running")
        norms_ver = int(
            (cat.read_manifest(schema_version) or {}).get("commit_seq", 0)
        )
        # the merge loads the NEW docs' norms executor-side from the staged
        # fwd gen dir (they are not in the committed fwd snapshot yet)
        # the batch-scoped delta dictionary covers every term in fwd_new
        # (adds are a subset of the delta vocabulary) — the spimi join only
        # needs ids for the batch's own terms, never the whole vocabulary.
        # Split the gen's fwd fine (it may be as few files as the delta
        # input had partitions — often ONE) so the CPU-bound inversion
        # parallelizes; fwd row groups are written small for exactly this.
        with scan_split_bytes(
            spark, fwd_split_bytes(spark, fwd_gen_dir)
        ):
            fwd_new_split = spark.read.parquet(fwd_gen_dir)
            segs, _d, sub = build_segments_spimi(
                spark, fwd_new_split, id_span, cap, fwd_gen_dir, norms_ver,
                generation=gen, dictionary=dict_delta,
                n_terms=int(n_batch_terms), positions=positions,
            )
            seg_gen_dir = f"{resolve_table_dir(idx, 'segments')}/gen={gen}"
            # blob-bytes counter rides the write job itself (CollectMetrics
            # on the plan) instead of a follow-up re-scan of the generation
            from pyspark.sql import Observation

            obs = Observation(f"seg_bytes_gen{gen}")
            blob_bytes = F.length("docs_blob") + F.length("tfs_blob")
            if positions:
                blob_bytes = blob_bytes + F.length("pos_blob")
            with arrow_batch_rows(spark, GROUP_BATCH_ROWS):
                segs.observe(
                    obs,
                    F.coalesce(F.sum(blob_bytes), F.lit(0)).alias("b"),
                ).sortWithinPartitions("term_id", "salt").write.mode(
                    "overwrite"
                ).option(
                    "parquet.block.size", str(SEGMENT_ROW_GROUP_BYTES)
                ).parquet(seg_gen_dir)
        sub.unpersist()
        seg_bytes_added = int(obs.get["b"])
    # dictionary DELTAS append as gen=K (batch vocabulary only), committed
    # by the same generations bump as segments/docmap — no versioned-table
    # rewrite of the corpus vocabulary per batch. When the delta rows are
    # already driver-held (fast path), both gen files are written directly
    # with pyarrow — the rows never earn two more Spark jobs; wider batches
    # keep the distributed writes.
    dict_gen_dir = f"{resolve_table_dir(idx, 'dictionary')}/gen={gen}"
    bt_gen_dir = f"{resolve_table_dir(idx, 'dict_by_term')}/gen={gen}"
    if dict_rows is not None:
        import pyarrow as _pa

        dt = _pa.table(
            {
                "term_id": _pa.array([r[0] for r in dict_rows], _pa.int64()),
                "term": _pa.array([r[1] for r in dict_rows], _pa.string()),
                "df": _pa.array([r[2] for r in dict_rows], _pa.int64()),
            }
        )
        bt = dt.select(["term", "term_id", "df"]).sort_by("term")
        for d_, t_, rg_rows in (
            (dict_gen_dir, dt, 50_000),
            # term-SORTED projection in the row groups write_dict_by_term
            # targets (DICT_ROW_GROUP_BYTES), so a resolve seeks a delta
            # generation at the same granularity as gen 0
            (
                bt_gen_dir,
                bt,
                max(1, DICT_ROW_GROUP_BYTES * bt.num_rows // max(1, bt.nbytes)),
            ),
        ):
            shutil.rmtree(d_, ignore_errors=True)  # crashed-attempt replay
            os.makedirs(d_)
            _pq.write_table(
                t_, os.path.join(d_, "part-00000.parquet"),
                row_group_size=rg_rows,
            )
    else:
        dict_delta.write.mode("overwrite").parquet(dict_gen_dir)
        write_dict_by_term(dict_delta, bt_gen_dir)
    stats_name = f"stats_v{ver}"
    stats_dir = os.path.join(idx, stats_name)
    shutil.rmtree(stats_dir, ignore_errors=True)
    os.makedirs(stats_dir)
    import pyarrow as _pa

    _pq.write_table(
        _pa.table(
            {
                "n_docs": _pa.array([n_docs2], _pa.int64()),
                "sum_dl": _pa.array([sum_dl2], _pa.int64()),
                "avgdl": _pa.array(
                    [float(sum_dl2) / n_docs2 if n_docs2 else 0.0],
                    _pa.float64(),
                ),
                "dl_min": _pa.array([dl_min2], _pa.int64()),
                "total_postings": _pa.array([total_postings2], _pa.int64()),
            }
        ),
        os.path.join(stats_dir, "part-00000.parquet"),
    )

    # ---- ATOMIC commit: one manifest swap makes the generation visible -----
    m = cat.read_manifest(schema_version)
    old_tables = dict(m.get("tables") or {})
    m["generations"] = gen + 1
    m["table_ver"] = ver
    m["tables"] = {**old_tables, "stats": stats_name}
    if new_cursor is not None and (m["cursor"] is None or str(new_cursor) > m["cursor"]):
        m["cursor"] = str(new_cursor)
    old_counters = m.get("counters") or {}
    m["counters"] = {
        "docs": n_docs2,
        "postings": total_postings2,
        # store size grows by the new generation's blob bytes (tombstoned
        # postings still occupy their old segments until compaction — the
        # ES store-size analog, ListIndicesCommand.cs:37-51)
        "bytes": int(old_counters.get("bytes") or 0) + seg_bytes_added,
        # U2-tagged running totals (the DogStatsd add/delete counters,
        # IndexQueueProcessor.cs:52,57) — surfaced by `index-list`
        "adds_total": int(old_counters.get("adds_total") or 0) + int(n_add),
        "deletes_total": int(old_counters.get("deletes_total") or 0) + int(n_del),
        "terms": int(n_terms2),
        "max_term_id": int(max_tid2),
    }
    cat.write_manifest(schema_version, m)
    cat.mark_phase(
        schema_version, f"incremental_gen{gen}", "done",
        adds=int(n_add), deletes=int(n_del), terms=int(n_terms2),
        batch_terms=int(n_batch_terms),
    )
    # U2 per-batch tagged metric event (the DogStatsd stream analog)
    from ..sources.catalog import emit_metric_event

    emit_metric_event(
        idx, "incremental_commit", schema=schema_version, generation=gen,
        adds=int(n_add), deletes=int(n_del), batch_terms=int(n_batch_terms),
        docs=int(n_docs2), postings=int(total_postings2),
        bytes_added=int(seg_bytes_added),
    )
    # GC superseded versioned dirs (keep one version of history behind the
    # pointer as a reader grace window; compaction clears the rest). Only
    # dirs whose pointer MOVED in this commit are candidates: after a
    # compaction, segments/fwd/docmap/tombstones stay pinned at _vK across
    # incremental commits, so an unconditional suffix<=ver-2 sweep would
    # rmtree the live data on the second incremental.
    for table, name in old_tables.items():
        if m["tables"].get(table) == name:
            continue  # still current — not superseded
        _, _, suffix = name.rpartition("_v")
        if suffix.isdigit() and int(suffix) <= ver - 2:
            shutil.rmtree(os.path.join(idx, name), ignore_errors=True)
    for df_ in (batch, new_tombs, *extra_persisted):
        df_.unpersist()
    return cat.read_manifest(schema_version)


def backfill_with_switch(
    spark: SparkSession,
    docs_at_start: DataFrame,
    docs_at_end: DataFrame,
    catalog: Catalog,
    schema_version: str,
    *,
    close_others: bool = True,
) -> dict:
    """T9 two-phase cutover (`pump-all --switch`): full build over the
    snapshot taken at start, then a catch-up incremental pass over rows that
    arrived during the build (warc_ts > build cursor), then the atomic alias
    swap. ``docs_at_end`` stands in for re-reading the live table after the
    backfill (tests pass a grown DataFrame; production passes the same
    table reference twice)."""
    from ..operators.build import build_index

    build_index(spark, docs_at_start, catalog, schema_version)
    m = incremental_update(spark, docs_at_end, catalog, schema_version)
    catalog.update_alias(schema_version, close_others=close_others)
    return m


def _assert_format(m: dict, index_name: str) -> None:
    """Writers must refuse indexes from an older on-disk format: an
    incremental applied to a legacy FLAT dictionary layout would stage
    gen=K inside the flat dir, after which committed_gen_paths sees gen=
    subdirs and silently stops reading the flat base files — the entire
    pre-existing vocabulary becomes invisible. Rebuild, don't mix."""
    from ..sources.catalog import FORMAT_VERSION

    fmt = m.get("format")
    if fmt != FORMAT_VERSION:
        raise RuntimeError(
            f"index {index_name} has on-disk format {fmt}, this engine "
            f"writes format {FORMAT_VERSION} — run a full rebuild before "
            "applying incremental updates or compaction"
        )


def _drain_gc_pending(cat: Catalog, schema_version: str) -> None:
    """Delete dirs a PREVIOUS compaction superseded (writer-entry deferred
    GC: by the time the next writer runs, any reader that pinned the old
    snapshot has long finished)."""
    m = cat.read_manifest(schema_version)
    if not m or not m.get("gc_pending"):
        return
    for d in m["gc_pending"]:
        shutil.rmtree(d, ignore_errors=True)
    m["gc_pending"] = []
    cat.write_manifest(schema_version, m)


def compact_index(
    spark: SparkSession,
    catalog: Catalog,
    schema_version: str,
    salt_group_cap: int | None = None,
) -> dict:
    """Segment-merge analog: rewrite segments from live forward rows only,
    clear tombstones, drop dead rows from fwd/docmap. Query results are
    unchanged (stats were already exact). Atomic like the incremental path:
    everything is written to fresh {table}_v{K} dirs and committed by the
    single manifest swap; the superseded dirs are deleted afterwards."""
    cat = catalog
    cat.assert_writable(schema_version)
    m = cat.read_manifest(schema_version)
    _assert_format(m or {}, cat.index_name(schema_version))
    idx = cat.index_dir(schema_version)
    clean_orphan_generations(idx)
    _drain_gc_pending(cat, schema_version)
    m = cat.read_manifest(schema_version)
    ver = int(m.get("table_ver", 0)) + 1

    tombs = _read_committed(spark, idx, "tombstones", TOMB_SCHEMA)
    fwd_old_paths = committed_gen_paths(idx, "fwd")
    names = {}
    with scan_split_bytes(
        spark, fwd_split_bytes(spark, resolve_table_dir(idx, "fwd"))
    ):
        from ..operators.dictionary import read_dictionary_merged

        fwd = spark.read.parquet(*fwd_old_paths).join(tombs, "doc_id", "left_anti")
        # fold all delta generations into one full snapshot (dropping terms
        # whose df went to 0) — the dictionary-compaction half of the merge
        dictionary = read_dictionary_merged(spark, idx).filter(
            F.col("df") > 0
        ).persist()
        docmap = _read_committed(spark, idx, "docmap", DOCMAP_SCHEMA).join(
            tombs, "doc_id", "left_anti"
        )
        max_live = docmap.agg(F.max("doc_id")).collect()[0][0]
        names["segments"] = f"segments_v{ver}"
        new_bytes = 0
        if max_live is None:
            # fully-deleted index: commit an EMPTY (absent) segments dir —
            # readers treat a missing/empty table as zero postings
            sub = None
        else:
            id_span = int(max_live) + 1
            cap = salt_group_cap or max(50_000, id_span // 64)
            # norms from the PRE-compaction fwd snapshot (includes dead docs
            # — harmless, their entries are never indexed by live postings)
            segs, _d, sub = build_segments_spimi(
                spark, fwd, id_span, cap,
                tuple(fwd_old_paths), int(m.get("commit_seq", 0)),
                generation=0, dictionary=dictionary,
                positions=bool(m.get("positions")),
            )
            # bytes counter rides the write (the only place it can shrink:
            # dead postings are gone after the rewrite)
            from pyspark.sql import Observation

            obs = Observation(f"compact_bytes_v{ver}")
            cblob = F.length("docs_blob") + F.length("tfs_blob")
            if m.get("positions"):
                cblob = cblob + F.length("pos_blob")
            with arrow_batch_rows(spark, GROUP_BATCH_ROWS):
                segs.observe(
                    obs,
                    F.coalesce(F.sum(cblob), F.lit(0)).alias("b"),
                ).sortWithinPartitions("term_id", "salt").write.mode(
                    "overwrite"
                ).option(
                    "parquet.block.size", str(SEGMENT_ROW_GROUP_BYTES)
                ).parquet(os.path.join(idx, names["segments"], "gen=0"))
            new_bytes = int(obs.get["b"])
        # the fwd/docmap/dictionary rewrites scan the SAME old fwd/derived
        # tables, so their (lazy) writes must execute inside this split-size
        # context too — outside it they'd run with the session default
        # splits and under-partition the CPU-bound rewrite pass
        for table, df_ in (("fwd", fwd), ("docmap", docmap)):
            names[table] = f"{table}_v{ver}"
            w = df_.write.mode("overwrite")
            if table == "fwd":
                # keep the rewritten fwd splittable for the next inversion
                from ..operators.build import FWD_ROW_GROUP_BYTES

                w = w.option("parquet.block.size", str(FWD_ROW_GROUP_BYTES))
            w.parquet(os.path.join(idx, names[table], "gen=0"))
        names["dictionary"] = f"dictionary_v{ver}"
        dictionary.write.mode("overwrite").parquet(
            os.path.join(idx, names["dictionary"], "gen=0")
        )
        names["dict_by_term"] = f"dict_by_term_v{ver}"
        write_dict_by_term(
            dictionary, os.path.join(idx, names["dict_by_term"], "gen=0")
        )
        n_terms_live = dictionary.count()
    if sub is not None:
        sub.unpersist()
    dictionary.unpersist()
    # repoint tombstones at a fresh EMPTY versioned name (never written —
    # readers of a missing dir see no tombstones); the old dir must outlive
    # the swap for pinned readers, so it cannot simply be deleted here
    names["tombstones"] = f"tombstones_v{ver}"

    # ATOMIC commit; superseded dirs are NOT deleted here — a reader that
    # pinned its snapshot pre-swap (LocalSearcher holds file lists; an
    # in-flight wand job planned against the old committed paths) must be
    # able to finish. They are recorded as gc_pending and removed on the
    # NEXT writer entry (_drain_gc_pending), the same deferred-cleanup
    # contract the incremental path's one-version grace window gives.
    m = cat.read_manifest(schema_version)
    old_dirs = [
        resolve_table_dir(idx, t)
        for t in (
            "segments", "fwd", "docmap", "dictionary", "dict_by_term",
            "tombstones",
        )
    ]
    m["tables"] = {**(m.get("tables") or {}), **names}
    m["generations"] = 1
    m["table_ver"] = ver
    # max_term_id is PRESERVED (never shrunk) so dense id assignment can
    # never reuse a dropped term's id while any pinned reader still holds
    # pre-compaction state; terms reflects the live vocabulary
    m["counters"] = {
        **(m.get("counters") or {}),
        "bytes": new_bytes,
        "terms": int(n_terms_live),
    }
    m["gc_pending"] = sorted(
        set(m.get("gc_pending") or []) | set(old_dirs)
    )
    cat.write_manifest(schema_version, m)
    cat.mark_phase(schema_version, "compact", "done")
    from ..sources.catalog import emit_metric_event

    emit_metric_event(
        idx, "compact", schema=schema_version, bytes=int(new_bytes),
        terms=int(n_terms_live),
    )
    return cat.read_manifest(schema_version)

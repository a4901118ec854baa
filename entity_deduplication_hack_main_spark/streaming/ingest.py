"""Incremental dedup ingest via Structured Streaming.

The reference is batch-only (SURVEY.md §2.9); the streaming-adjacent
north_rule requirement is resumability, which the batch pipeline covers via
committed stages. This module adds the natural streaming extension: new
pages arrive as files in `warc_ts`-partitioned directories, are
deduplicated within the micro-batch AND against the committed corpus, and
append to the clustered table — how a production crawler feeds the pipeline.

Per micro-batch (`foreachBatch`):

0. URL channel (opt-in via ``url_col=``) — the cheapest Common-Crawl
   dedup signal, run BEFORE any content hashing: URLs are canonicalized
   (operators/urldedup.py — scheme/case/www/port/slash/fragment/
   tracking-param rules), in-batch recrawls collapse to the earliest
   ``url_ts_col`` (then lowest id), and canonical keys already present
   in the committed ``_url_index`` are dropped ("first crawl wins" —
   a recrawl is dropped even when the page content changed; re-ingest
   of updated pages is a policy choice this channel deliberately does
   not make, matching the batch ``dedup_by_url`` stage). Every NEW
   canonical url is recorded in the index whether or not its content
   survives the later CONTENT channels — a later recrawl of a content-dup
   page is still a recrawl — but contamination-flagged docs do NOT
   register (the holdout promise: no dedup state sees them; a registered
   key would block a clean future recrawl of that URL). URLs with no
   canonical identity (NULL key: scheme-less/unparseable) pass through
   every batch uncounted and unindexed;
1. exact channel — normalized-text fingerprint; first-per-fp within the
   batch, then anti-join against the committed fingerprint index;
2. *within* the batch — the batch pipeline's near-dup core
   (plans.pipeline.near_dup_stages: all three candidate channels, the full
   measure set, the edge rule and connected components, each stage
   checkpointed), so a pair gets the same verdict in a batch run and in one
   micro-batch (r03 verdict #3); only each component's min-id
   representative survives;
3. *against the corpus*, one posting probe — the batch's
   ``candidates.posting_table`` (band keys, SimHash blocks, winnow
   fingerprints) joins ONE committed posting frame built from the band
   index, the ``_index`` simhash blocks and the winnow index; each
   channel keeps the batch pipeline's bucket cap
   (``candidates.channel_keep``) and pair flag
   (``candidates.channel_flags``), derived in one ``groupBy(id, old_id)``,
   and a pair with no flag is no candidate, as in the batch channels.
   Every candidate is then measured and decided as in the batch pipeline:
   the committed partner docs are fetched from the deduped output table
   and re-represented (no committed shingle set is retained), each pair
   gets ``verify.full_measures``, and a batch doc drops when
   ``verify.edge_rule`` holds for any of its pairs. A pair therefore
   reaches the same verdict whether it arrives in one batch or split
   across two (r04 advice #5);
4. the batch tail: survivors append to the output plus the index tables
   — `_index` (id, fp, simhash), `_band_index` (id, band_id, band_hash),
   `_winnow_index` (id, wfp) and, when the URL channel is on,
   `_url_index` (id, url_key) — and one `_streaming_lineage` row
   records the batch's decision counts (input, fresh, in-batch drops,
   per-channel candidates and drops, survivors; r03 verdict #7). Rows
   written before the per-channel drop counts replaced the MinHash
   estimate band's counts carry the old columns: read that table with
   ``mergeSchema``.

Per-batch cost vs the committed corpus (r04 verdict #3): the index tables
(:data:`STATE_TABLES`, one reader and one writer) are written with a
``kb`` key-bucket column (hash of the join key mod :data:`N_KEY_BUCKETS`),
range-clustered within each batch partition, and every corpus-side read
pushes ``In(kb, <batch's buckets>)`` into the parquet scan — file/row-group
skipping over plain parquet, no metastore bucketing, and legacy
(pre-``kb``) files surface kb NULL and are read in full. After the pruned
scan, the committed postings are LEFT-SEMI-reduced by a broadcast of the
batch's distinct ``(chan, kid, key)`` BEFORE the partial-aggregate bucket
sizing, so the per-bucket caps (winnow boilerplate, SimHash degenerate
buckets) count the matched subset only — identical counts (key equality
keeps whole buckets) without aggregating the whole index. Two O(corpus)
SCANS remain, neither shuffled: `_index` (one narrow row per committed
doc, for its simhash blocks) and, when the batch has corpus pairs, the
deduped output table, whose id and text columns are read whole before
the partner ids filter them. See SCALE.md for the cost model.

Span-cut compaction (batch recipe): the exact-substring span pass is
corpus-GLOBAL (a gram index must see every committed doc), so streamed
docs are never span-cut inside a micro-batch. The production pattern is
:func:`span_cut_compaction` run as a periodic committed batch job (e.g.
daily): read the streamed `deduped` table, run
``substring_spans_exact`` + ``cut_spans_raw`` over the whole committed
corpus, overwrite `deduped_cut`. Idempotent (pure derived output); the
streaming indexes are untouched, so ingest keeps deduping against the
UNCUT corpus — span cutting changes training payloads, never dedup
identity. Boilerplate LINE removal follows the same recipe
(:func:`line_dedup_compaction`): line doc-frequency is corpus-global, so
it runs as a scheduled batch job over `deduped` into `deduped_lines`
(doc-frequency rule only — keep-first depends on arrival order and would
not be idempotent across re-runs). Small-FILE compaction is the third
maintenance job (:func:`state_compaction`): trickle ingest writes one
file set per batch per state table, so a quiescent-window rewrite folds
all committed partitions into the ``batch_id = -1`` sentinel partition
in the kb-range-clustered layout — O(1) files per key bucket again,
reads and retry semantics unchanged.

Benchmark decontamination at ingest: pass ``holdout=`` to drop batch
docs contaminated against an eval corpus (exact fp + band-collision →
exact-Jaccard channels via operators/decontaminate.py, holdout
broadcast) BEFORE any dedup state or output sees them; drops land in
the lineage row as ``n_contaminated``. The holdout stays driver-free:
its representation is computed once per StreamingDedup and cached.

Idempotency: every write is a *dynamic partition overwrite* keyed on
`batch_id`, and reads of the indexes exclude the current batch_id — a
foreachBatch retry (or a crash between the output and index writes)
recomputes the same survivor set and overwrites the same partitions
instead of appending duplicates. Paths are probed through the Hadoop
FileSystem (plans/fsutil.py), so `s3a://`/`hdfs://` workdirs behave like
local ones.

Self-overwrite safety: the index/output writes target the same paths their
own input lineage reads (prior fingerprints, old bands, committed text).
The batch's `fresh` and `survivors` frames are therefore
``localCheckpoint(eager=True)``-ed — lineage is TRUNCATED before any write,
so no write plan scans the path it is overwriting, regardless of cache
eviction (round-2 advice: a recompute-under-eviction would otherwise race
the overwrite on s3a/hdfs). If a checkpoint block is lost mid-batch the
batch fails and the foreachBatch retry recomputes it — idempotent by the
partition-overwrite design above.

Pins: every frame a batch checkpoints or persists goes on one
``plans.pins.Pins`` list that is released when the batch ends, on success
and on failure — never earlier, since a released checkpoint fails any
later read of a frame derived from it.

State growth: the indexes carry O(1 row + bands rows) per committed doc —
fingerprint, simhash and 8-byte key entries, never full text — which is
the bounded-memory alternative to `dropDuplicates` + watermark state
(bounded horizon). Unbounded-horizon dedup needs an index; this one is a
parquet table any batch job can also read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entity_deduplication_hack_main_spark.config import DedupConfig
from entity_deduplication_hack_main_spark.functions import represent, textstats
from entity_deduplication_hack_main_spark.functions import simhash as shash
from entity_deduplication_hack_main_spark.operators import candidates as cand_op
from entity_deduplication_hack_main_spark.operators import (
    decontaminate as decon_op,
)
from entity_deduplication_hack_main_spark.operators import (
    linededup as linededup_op,
)
from entity_deduplication_hack_main_spark.operators import suffix as suffix_op
from entity_deduplication_hack_main_spark.operators import (
    urldedup as urldedup_op,
)
from entity_deduplication_hack_main_spark.operators import verify as verify_op
from entity_deduplication_hack_main_spark.plans import fsutil
from entity_deduplication_hack_main_spark.plans.pins import Pins
from entity_deduplication_hack_main_spark.plans.pipeline import near_dup_stages


#: key buckets for the prunable index layout — the batch's distinct kb set
#: is collected to the driver (bounded by this constant) and pushed into
#: the committed-side parquet scans as an In() filter
N_KEY_BUCKETS = 256

#: SimHash width: the streaming path uses the xxhash64 strategy
NBITS = 64

#: the committed state tables, ``<workdir>/<name>``: each table's columns
#: between ``id`` and ``kb``, and the join key its ``kb`` column buckets.
#: Every table is partitioned by ``batch_id``. One row per committed doc in
#: ``_index`` (its simhash feeds the SimHash probe) and ``_url_index``; one
#: per band, resp. winnow fingerprint, in ``_band_index`` and
#: ``_winnow_index`` (bigint keys: the band index grows bands rows per doc
#: forever, and an 8-byte key vs a 32-char md5 string is a 2.5x standing
#: size difference).
STATE_TABLES = {
    "_index": ("fp string, simhash bigint", "fp"),
    "_band_index": ("band_id int, band_hash bigint", "band_hash"),
    "_winnow_index": ("wfp bigint", "wfp"),
    "_url_index": ("url_key string", "url_key"),
}


def _kb(col) -> "F.Column":
    """Key bucket of a join key — MUST match between index writes and the
    batch-side kb computation or pruning silently drops committed rows."""
    return F.pmod(F.xxhash64(col), F.lit(N_KEY_BUCKETS)).cast("int")


class StreamingDedup:
    """Streaming ingest: exact + MinHash near-dup vs batch and corpus."""

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        config: DedupConfig | None = None,
        text_col: str = "text",
        id_col: str = "url",
        containment_threshold: float = 0.9,
        holdout: DataFrame | None = None,
        holdout_threshold: float | None = None,
        holdout_ngram_n: int | None = None,
        holdout_ngram_frac: float = 0.7,
        url_col: str | None = None,
        url_ts_col: str | None = None,
    ) -> None:
        """holdout: optional benchmark/eval corpus (same id/text column
        names as the stream). When given, every micro-batch is
        DECONTAMINATED before any index write: batch docs matching a
        holdout doc exactly (fingerprint) or nearly (band collision →
        exact Jaccard ≥ holdout_threshold, default jaccard_similar) are
        dropped via operators/decontaminate.py with ``broadcast_ref``
        — the holdout is small by definition, the batch never shuffles
        for it. Drops are counted in the lineage row
        (``n_contaminated``).

        holdout_ngram_n: when set (e.g. 13, the GPT-3 recipe), a THIRD
        decontamination channel runs on every batch: docs whose fraction
        of distinct n-grams occurring anywhere in the holdout reaches
        ``holdout_ngram_frac`` (PaLM's 0.7) are dropped — this catches a
        batch doc QUOTING part of an eval doc, which neither whole-doc
        channel sees. The holdout's gram set is computed once per
        instance and cached; the per-batch cost is one gram-kernel pass
        over the batch plus a broadcast mark (operators/decontaminate.py
        ngram_overlap_stats).

        url_col: when set, the URL channel runs FIRST on every batch
        (module docstring item 0): canonicalized recrawls collapse
        in-batch (earliest ``url_ts_col``, then lowest id) and against
        the committed ``_url_index`` ("first crawl wins"); drops are
        counted in the lineage row as ``n_url_dup``."""
        self.spark = spark
        self.workdir = workdir
        self.config = config or DedupConfig()
        self.text_col = text_col
        self.id_col = id_col
        self.containment_threshold = containment_threshold
        self.holdout = holdout
        self.holdout_threshold = holdout_threshold
        self.holdout_ngram_n = holdout_ngram_n
        self.holdout_ngram_frac = holdout_ngram_frac
        self._holdout_payload: DataFrame | None = None
        self._holdout_grams: DataFrame | None = None
        self.url_col = url_col
        self.url_ts_col = url_ts_col
        self.index_path = os.path.join(workdir, "_index")
        self.band_path = os.path.join(workdir, "_band_index")
        self.winnow_path = os.path.join(workdir, "_winnow_index")
        self.url_path = os.path.join(workdir, "_url_index")
        self.out_path = os.path.join(workdir, "deduped")
        self.lineage_path = os.path.join(workdir, "_streaming_lineage")
        self.checkpoint = os.path.join(workdir, "_checkpoint")

    def _holdout_rep(self) -> DataFrame:
        """The holdout corpus's representation payload, computed once per
        StreamingDedup instance and cached (it is read every batch)."""
        if self._holdout_payload is None:
            self._holdout_payload = represent.with_representation(
                self.holdout, self.config, self.id_col, self.text_col
            ).cache()
        return self._holdout_payload

    def _holdout_gram_set(self) -> DataFrame:
        """The holdout's distinct n-gram hash set at holdout_ngram_n,
        computed once per instance and cached (probed every batch)."""
        if self._holdout_grams is None:
            self._holdout_grams = decon_op.ngram_set(
                self.holdout,
                self.config,
                self.holdout_ngram_n,
                self.id_col,
                self.text_col,
            ).cache()
        return self._holdout_grams

    def _ngram_contaminated_ids(self, docs: DataFrame) -> DataFrame:
        """ids (column named id_col) of batch docs whose distinct-n-gram
        overlap fraction vs the holdout reaches holdout_ngram_frac."""
        stats = decon_op.ngram_overlap_stats(
            docs.select(self.id_col, self.text_col),
            None,
            self.config,
            n=self.holdout_ngram_n,
            flag_threshold=self.holdout_ngram_frac,
            id_col=self.id_col,
            text_col=self.text_col,
            ref_grams=self._holdout_gram_set(),
        )
        return stats.where("contaminated").select(
            F.col("doc_id").alias(self.id_col)
        )

    # --- committed state -------------------------------------------------

    def _read_or_empty(self, path: str, schema: str) -> DataFrame:
        """Read with the EXPECTED schema enforced — a workdir committed by
        an older code version (fewer index columns, no ``kb``) then
        resumed after an upgrade must surface the missing columns as NULL,
        not raise AnalysisException or depend on which parquet footer
        Spark samples for schema inference (r04 advice #1). Every null a
        legacy row surfaces is tolerated downstream: null simhash blocks
        never join, null kb rows are exempt from pruning."""
        if fsutil.exists(self.spark, path):
            return self.spark.read.schema(schema).parquet(path)
        return self.spark.createDataFrame([], schema)

    @staticmethod
    def _kb_prune(df: DataFrame, kbs: list[int] | None) -> DataFrame:
        """Push the batch's key-bucket set into the scan. kb NULL (legacy
        unbucketed files) always survives — correct, just unpruned."""
        if kbs is None:
            return df
        cond = F.col("kb").isNull()
        if kbs:
            cond = cond | F.col("kb").isin(kbs)
        return df.where(cond)

    @staticmethod
    def _batch_kbs(df: DataFrame, key_col) -> list[int]:
        """Distinct key buckets in the batch — a driver collect bounded by
        N_KEY_BUCKETS values, never by data size."""
        return [
            r[0] for r in df.select(_kb(key_col).alias("kb")).distinct().collect()
        ]

    def _state(
        self,
        table: str,
        exclude_batch: int,
        id_type: str = "string",
        kbs: list[int] | None = None,
    ) -> DataFrame:
        """The committed rows of state table *table* (a :data:`STATE_TABLES`
        name) outside batch *exclude_batch*, kb-pruned to *kbs* if given."""
        cols, _ = STATE_TABLES[table]
        df = self._read_or_empty(
            os.path.join(self.workdir, table),
            f"id {id_type}, {cols}, kb int, batch_id bigint",
        )
        return self._kb_prune(
            df.where(F.col("batch_id") != F.lit(exclude_batch)), kbs
        )

    def _register_urls(
        self,
        url_kept: DataFrame | None,
        batch_id: int,
        contaminated: list[DataFrame],
    ) -> None:
        """Write the batch's NEW canonical urls into ``_url_index`` —
        every in-batch URL winner EXCEPT contamination-flagged docs (the
        holdout promise: no dedup state sees them; a registered key would
        block a clean future recrawl of that URL forever). Content-dup
        drops DO register. NULL keys (unparseable URLs — no canonical
        identity) never enter the index. Each ``contaminated`` frame
        carries the flagged doc ids in its single column; flags are
        computed on the fp-channel survivors, so a contaminated doc whose
        identical in-batch twin was fp-dropped still registers the twin's
        URL — acceptable: that content is represented by the flagged twin
        check, and the fp drop is a content decision, not a holdout one.

        Known same-batch corner: a contaminated doc can still WIN the
        in-batch URL dedup, dropping a clean doc at the same canonical
        key from the SAME batch before contamination is known — that
        batch's clean copy is lost, but because the winner's key is NOT
        registered here, any future recrawl of the URL ingests cleanly.
        Avoiding the loss entirely would require decontaminating the full
        pre-URL-dedup batch (representation for every recrawl), defeating
        the channel's run-first cost purpose."""
        if url_kept is None:
            return
        reg = url_kept.select(
            F.col(self.id_col).alias("id"), "url_key"
        ).where(F.col("url_key").isNotNull())
        for bad in contaminated:
            b = bad.select(F.col(bad.columns[0]).alias("id"))
            reg = reg.join(F.broadcast(b), "id", "left_anti")
        self._write_index(reg, "_url_index", batch_id)

    def _overwrite_partition(self, df: DataFrame, path: str, batch_id: int):
        (
            df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .mode("overwrite")
            .parquet(path)
        )

    def _write_index(self, df: DataFrame, table: str, batch_id: int) -> None:
        """Write state table *table* in the prunable layout: kb = key
        bucket of its join key, RANGE-clustered across the batch's files
        and sorted within them, so parquet min/max stats make the read-side
        In(kb) filter skip whole files/row groups. One extra narrow shuffle
        per index write — the price of never re-scanning the full committed
        index per micro-batch."""
        out = df.withColumn("kb", _kb(F.col(STATE_TABLES[table][1])))
        self._overwrite_partition(
            out.repartitionByRange("kb").sortWithinPartitions("kb"),
            os.path.join(self.workdir, table),
            batch_id,
        )

    # --- the micro-batch body ---------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        pins = Pins()
        try:
            self._ingest(batch, batch_id, pins)
        finally:
            pins.release()

    def _ingest(self, batch: DataFrame, batch_id: int, pins: Pins) -> None:
        id_type = batch.schema[self.id_col].dataType.simpleString()
        n_input = batch.count()

        # URL channel (module docstring item 0) — before any content work:
        # canonical recrawls collapse in-batch and committed canonical keys
        # drop. The NEW keys register in the batch tail (_register_urls),
        # once the contaminated docs, which must not register, are known.
        n_url_dup = 0
        url_kept = None
        if self.url_col is not None:
            keyed = urldedup_op.dedup_by_url(
                batch,
                id_col=self.id_col,
                url_col=self.url_col,
                ts_col=self.url_ts_col,
            )
            kbs_u = self._batch_kbs(keyed, F.col("url_key"))
            prior_urls = (
                self._state("_url_index", batch_id, id_type, kbs_u)
                .select("url_key")
                .distinct()
            )
            # checkpointed: the anti-join's lineage reads _url_index, which
            # the tail overwrites. NULL url_keys (unparseable URLs) never
            # match the anti-join — kept, with no index entry.
            url_kept = pins.checkpoint(
                keyed.join(prior_urls, "url_key", "left_anti")
            )
            n_url_dup = n_input - url_kept.count()
            batch = url_kept.drop("url_key")

        # exact channel: one doc per fingerprint in-batch (min id), then
        # drop fps already committed by OTHER batches (retry-safe read of
        # the batch's key buckets only)
        w = Window.partitionBy("fp").orderBy(self.id_col)
        first = (
            batch.withColumn("fp", textstats.fingerprint(F.col(self.text_col)))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        kbs_fp = self._batch_kbs(first, F.col("fp"))
        prior_fps = self._state("_index", batch_id, id_type, kbs_fp).select("fp")
        # checkpointed, not cached: fresh's lineage reads _index, which the
        # tail overwrites (module docstring)
        fresh = pins.checkpoint(first.join(prior_fps.distinct(), "fp", "left_anti"))

        # holdout channels (docstring). The n-gram channel runs first,
        # before any representation/state work — quoted-eval-span docs
        # never get signatures computed, never reach an index.
        contaminated: list[DataFrame] = []  # flagged ids, for _register_urls
        n_ngram = 0
        if self.holdout is not None and self.holdout_ngram_n is not None:
            flagged = pins.checkpoint(self._ngram_contaminated_ids(fresh))
            n_ngram = flagged.count()
            if n_ngram:
                contaminated.append(flagged)
                fresh = pins.checkpoint(
                    fresh.join(F.broadcast(flagged), self.id_col, "left_anti")
                )

        payload = pins.persist(
            represent.with_representation(
                fresh, self.config, self.id_col, self.text_col
            )
        )
        n_contaminated = 0
        if self.holdout is not None:
            # both whole-doc channels (exact fp + band collision → exact
            # Jaccard), holdout broadcast
            flagged = pins.checkpoint(
                decon_op.decontaminate(
                    payload,
                    self._holdout_rep(),
                    self.config,
                    threshold=self.holdout_threshold,
                    broadcast_ref=True,
                ).select(F.col("doc_id").alias("id"))
            )
            n_contaminated = flagged.count()
            if n_contaminated:
                contaminated.append(flagged)
                payload = pins.persist(
                    payload.join(F.broadcast(flagged), "id", "left_anti")
                )
        out_rows, state, near_counts = self._near_dup(
            fresh, payload, batch_id, id_type, pins
        )

        # the lineage row (r03 verdict #7), counted before any write
        counts = {
            "n_input": n_input,
            "n_fresh": fresh.count(),
            "n_contaminated": n_contaminated,
            "n_contaminated_ngram": n_ngram,
            **near_counts,
            "n_url_dup": n_url_dup,
        }

        # the batch tail (module docstring item 4)
        self._overwrite_partition(out_rows.drop("fp"), self.out_path, batch_id)
        for table, rows in state.items():
            self._write_index(rows, table, batch_id)
        self._register_urls(url_kept, batch_id, contaminated)
        self._overwrite_partition(
            self.spark.createDataFrame(
                [tuple(counts.values())],
                ", ".join(f"{k} bigint" for k in counts),
            ),
            self.lineage_path,
            batch_id,
        )

    def _near_dup(
        self,
        fresh: DataFrame,
        payload: DataFrame,
        batch_id: int,
        id_type: str,
        pins: Pins,
    ) -> tuple[DataFrame, dict[str, DataFrame], dict[str, int]]:
        """Module docstring items 2 and 3: the surviving ``fresh`` rows,
        the rows they add to each state table, and the decision counts."""
        cfg = self.config
        # near-dup WITHIN the batch: the batch pipeline's core, each stage
        # checkpointed; every non-min-id component member drops
        _, _, _, assignments = near_dup_stages(
            payload, cfg, lambda _, build: pins.checkpoint(build()), NBITS,
            self.containment_threshold,
        )
        in_batch_drop = F.col("id") != F.col("cluster_id")
        kept = pins.persist(
            payload.join(assignments.where(in_batch_drop), "id", "left_anti")
        )

        # vs the committed corpus: one posting probe, then batch verify's
        # measures and edge rule on every candidate pair
        post = cand_op.posting_table(kept, cfg, NBITS)
        pairs = pins.persist(self._corpus_pairs(post, batch_id, id_type))
        meas = pins.persist(
            self._corpus_measures(kept, pairs, batch_id, id_type)
        )
        edge = verify_op.edge_rule(cfg, self.containment_threshold)
        # checkpointed: survivors' lineage reads every state table and the
        # output table (committed text fetches), all overwritten by the tail
        survivors = pins.checkpoint(
            kept.join(meas.where(edge).select(F.col("id1").alias("id")),
                      "id", "left_anti").select("id")
        )

        # Counted BEFORE the tail's writes: `meas` reads the committed
        # paths this batch is about to overwrite, and persist() alone does
        # not pin it — AQE empty-relation pruning can skip a cached subtree
        # entirely while materializing `survivors` (seen when the committed
        # corpus is empty: a post-write count then re-listed the band index
        # and collided with the batch's own fresh write). One aggregate over
        # `meas` itself forces it onto its pre-write file listing.
        spec = [  # (name, frame, aggregate), in lineage column order
            ("n_inbatch_drop", assignments, F.count_if(in_batch_drop)),
        ]
        for tag, c in zip(("mh", "sh", "wn"), cand_op.CHANNELS):
            spec += [
                (f"{tag}_candidates", meas, F.count_if(c)),
                (f"{tag}_drop", meas,
                 F.count_distinct(F.when(F.col(c) & edge, F.col("id1")))),
            ]
        spec.append(("n_survivors", survivors, F.count("*")))
        counts = dict.fromkeys(k for k, _, _ in spec)  # update keeps the order
        for df in (assignments, meas, survivors):
            aggs = [c.alias(k) for k, d, c in spec if d is df]
            counts.update(df.agg(*aggs).first().asDict())

        new_post = post.join(survivors, "id", "left_semi")
        chan, kid, key = F.col("chan"), F.col("kid"), F.col("key")
        state = {
            "_index": kept.join(survivors, "id", "left_semi").select(
                "id", "fp", "simhash"
            ),
            "_band_index": new_post.where(chan == cand_op.LSH).select(
                "id", kid.alias("band_id"), key.alias("band_hash")
            ),
            "_winnow_index": new_post.where(chan == cand_op.WINNOW).select(
                "id", key.alias("wfp")
            ),
        }
        out_rows = fresh.join(
            survivors.withColumnRenamed("id", self.id_col), self.id_col, "left_semi"
        )
        return out_rows, state, counts

    def _corpus_pairs(
        self, post: DataFrame, batch_id: int, id_type: str
    ) -> DataFrame:
        """``(id, old_id, <CHANNELS flags>)``, at least one flag set: the
        batch's postings *post* probed against the committed postings in
        one join (module docstring item 3)."""
        cfg = self.config
        chan = F.col("chan")
        kbs = {cand_op.LSH: [], cand_op.WINNOW: []}
        for c, kb in (
            post.where(chan != cand_op.SIMHASH)
            .select("chan", _kb(F.col("key")))
            .distinct()
            .collect()
        ):
            kbs[c].append(kb)

        def postings(df, c, kid, key, sh=F.lit(None).cast("bigint")):
            return df.select(
                F.col("id").alias("old_id"),
                F.lit(c).alias("chan"),
                kid.alias("kid"),
                key.alias("key"),
                sh.alias("old_sh"),
            )

        bands = self._state("_band_index", batch_id, id_type, kbs[cand_op.LSH])
        blocks = self._state("_index", batch_id, id_type).select(
            "id",
            "simhash",
            F.explode(shash.simhash_blocks(F.col("simhash"), cfg, NBITS)).alias(
                "b"
            ),
        )
        fps = self._state("_winnow_index", batch_id, id_type, kbs[cand_op.WINNOW])
        bucket = cand_op.BUCKET
        committed = (
            postings(bands, cand_op.LSH, F.col("band_id"), F.col("band_hash"))
            .unionByName(
                postings(
                    blocks,
                    cand_op.SIMHASH,
                    F.col("b.block_id"),
                    F.col("b.block_key"),
                    F.col("simhash"),
                )
            )
            .unionByName(postings(fps, cand_op.WINNOW, F.lit(0), F.col("wfp")))
            # broadcast semi-reduce on the batch's keys BEFORE the sizing:
            # key equality keeps whole buckets, so the committed-side sizes
            # are exact, and the committed index is never aggregated whole
            .join(F.broadcast(post.select(*bucket).distinct()), bucket, "left_semi")
        )
        sizes = (
            committed.groupBy(*bucket)
            .agg(F.count("*").alias("n"))
            .where(cand_op.channel_keep(cfg))
        )
        lsh, sh, wn = (F.col(c) for c in cand_op.CHANNELS)
        return (
            post.join(committed.join(sizes, bucket, "left_semi"), bucket)
            .groupBy("id", "old_id")
            .agg(*cand_op.channel_flags(cfg, "simhash", "old_sh"))
            .where(lsh | sh | wn)
        )

    def _corpus_measures(
        self, kept: DataFrame, pairs: DataFrame, batch_id: int, id_type: str
    ) -> DataFrame:
        """``(id1, id2, <CHANNELS flags>, verify.full_measures)`` for the
        corpus *pairs* ``(id, old_id, <CHANNELS flags>)``: side 1 is the
        batch doc's *kept* payload row, side 2 the committed doc, whose
        text is fetched from the deduped output table (distinct old ids
        only, left-semi) and re-represented. The two sides stay separate
        payloads: a batch id can equal a committed id (a recrawl of one
        URL with changed text)."""
        out = self._read_or_empty(
            self.out_path,
            f"{self.id_col} {id_type}, {self.text_col} string, batch_id bigint",
        ).where(F.col("batch_id") != F.lit(batch_id))
        old_ids = pairs.select(F.col("old_id").alias(self.id_col)).distinct()
        old_docs = out.select(self.id_col, self.text_col).join(
            old_ids, self.id_col, "left_semi"
        )
        old_repr = represent.with_representation(
            old_docs, self.config, self.id_col, self.text_col
        )
        cols, flags = verify_op.FULL_COLS, cand_op.CHANNELS
        j = (
            pairs.select(
                F.col("id").alias("id1"), F.col("old_id").alias("id2"), *flags
            )
            .join(verify_op.pair_side(kept, cols, 1), "id1")
            .join(verify_op.pair_side(old_repr, cols, 2), "id2")
        )
        return verify_op.overlap_sizes(j).select(
            "id1", "id2", *flags, *verify_op.full_measures(self.config)
        )

    def span_cut_compaction(
        self, span_k: int = 20, max_df: int | None = None
    ) -> DataFrame:
        """Periodic batch compaction: the corpus-global exact-substring
        span pass + raw-byte cutting over the STREAMED output table (r04
        verdict #8 — module docstring, "Span-cut compaction").

        Reads every committed `deduped` row, runs
        :func:`operators.suffix.substring_spans_exact` (the gram pass must
        see the whole corpus — spans between docs committed by DIFFERENT
        batches are exactly what streaming cannot cut per-batch), cuts
        with :func:`operators.suffix.cut_spans_raw`, and overwrites
        ``<workdir>/deduped_cut``. Pure derived output — idempotent,
        indexes untouched, dedup identity unaffected; schedule it like any
        committed batch stage (daily / per-N-batches).

        Returns the cut table re-read from disk."""
        cut_path = os.path.join(self.workdir, "deduped_cut")
        docs = self.spark.read.parquet(self.out_path).select(
            self.id_col, self.text_col
        )
        spans = suffix_op.substring_spans_exact(
            docs,
            self.config,
            span_k=span_k,
            max_df=max_df,
            id_col=self.id_col,
            text_col=self.text_col,
        )
        cut = suffix_op.cut_spans_raw(
            docs, spans, id_col=self.id_col, text_col=self.text_col
        ).withColumnRenamed("id", self.id_col)
        cut.write.mode("overwrite").parquet(cut_path)
        return self.spark.read.parquet(cut_path)

    def line_dedup_compaction(self, max_doc_freq: int = 8) -> DataFrame:
        """Periodic batch compaction: corpus-global boilerplate LINE
        removal over the streamed output table, same pattern as
        :meth:`span_cut_compaction`.

        Line frequency is corpus-global (a banner's doc frequency only
        crosses the removal threshold once enough batches committed it),
        so — like the span pass — it runs as a scheduled batch job, not
        per micro-batch. Applies the doc-frequency rule only
        (``keep_first=False``): keep-first depends on arrival order,
        which a re-run compaction could not reproduce; the df rule is a
        pure function of the committed corpus, so the overwrite is
        idempotent. Writes ``<workdir>/deduped_lines`` (id, text,
        n_lines, n_kept, n_removed); indexes untouched — dedup identity
        is still the UNCUT text."""
        out = os.path.join(self.workdir, "deduped_lines")
        docs = self.spark.read.parquet(self.out_path).select(
            self.id_col, self.text_col
        )
        cleaned = linededup_op.dedup_lines(
            docs,
            id_col=self.id_col,
            text_col=self.text_col,
            keep_first=False,
            max_doc_freq=max_doc_freq,
        ).withColumnRenamed("id", self.id_col)
        cleaned.write.mode("overwrite").parquet(out)
        return self.spark.read.parquet(out)

    #: batch_id owning compacted rows — never a real micro-batch id, so
    #: every ``exclude_batch`` read filter keeps compacted state visible
    COMPACTED_BATCH_ID = -1

    def state_compaction(self, files_per_table: int = 8) -> dict:
        """Periodic small-file compaction for the committed state tables.

        Trickle ingest writes one small file set per micro-batch per
        table; after B batches every read — even a perfectly kb-pruned
        one — still opens O(B) parquet footers, and at B in the tens of
        thousands footer I/O dominates the scan. This job folds every
        committed ``batch_id`` partition of the three index tables and
        the output table into ONE partition (``batch_id = -1``, a
        sentinel no live batch uses, so the per-batch
        ``exclude_batch=batch_id`` filters keep compacted rows visible),
        restoring the kb-range-clustered layout (_write_index) so file
        skipping works as on day one.

        Run it while ingest is QUIESCENT (between availableNow triggers,
        after the checkpoint committed): the next batch's reads are
        unaffected, but a redelivery of an already-compacted batch would
        duplicate its rows into the sentinel partition — the streaming
        checkpoint prevents redelivery; don't compact mid-trigger. The
        rewrite is idempotent (re-running folds the single sentinel
        partition onto itself). Cost: one localCheckpoint materialization
        of each table (rows are narrow index entries) — the
        read-own-path-then-overwrite safety pattern the module docstring
        describes.

        ``files_per_table`` caps the rewrite's partition count (without
        it, repartitionByRange defaults to spark.sql.shuffle.partitions
        and a small table would come out in MORE files than it went in —
        measured in the pytest). Size it as total_bytes / target file
        size (~256 MB-1 GB) in production.

        Returns {table: {"files_before": n, "files_after": n}}."""
        stats = {}
        for name in (*STATE_TABLES, "deduped"):
            path = os.path.join(self.workdir, name)
            if not fsutil.exists(self.spark, path):
                continue
            # mergeSchema: partitions written by older engine versions may
            # lack newer columns — the fold must not drop them
            df = self.spark.read.option("mergeSchema", "true").parquet(path)
            before = df.select(F.input_file_name()).distinct().count()
            pins = Pins()  # released once the fold is written
            folded = pins.checkpoint(df.drop("batch_id"))
            if "kb" in folded.columns:
                folded = folded.repartitionByRange(
                    int(files_per_table), "kb"
                ).sortWithinPartitions("kb")
            else:
                folded = folded.repartition(int(files_per_table))
            (
                folded.withColumn(
                    "batch_id", F.lit(int(self.COMPACTED_BATCH_ID))
                )
                # static, EXPLICITLY: under a cluster default of 'dynamic'
                # (the mode _overwrite_partition itself uses) an overwrite
                # would replace only the sentinel partition and leave every
                # per-batch partition in place — duplicating all state
                .write.option("partitionOverwriteMode", "static")
                .partitionBy("batch_id")
                .mode("overwrite")
                .parquet(path)
            )
            pins.release()
            after = (
                self.spark.read.parquet(path)
                .select(F.input_file_name())
                .distinct()
                .count()
            )
            stats[name.lstrip("_")] = {
                "files_before": before,
                "files_after": after,
            }
        return stats

    def start(self, source_dir: str, schema: str, trigger_once: bool = True):
        stream = (
            self.spark.readStream.schema(schema)
            .parquet(source_dir)
            .withWatermark("warc_ts", "1 day")
        )
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Line-level corpus deduplication — the C4 / Dolma pipeline step that
  * passage dedup does not cover: drop individual LINES (newline-delimited,
  * the unit web boilerplate actually arrives in — nav chrome, cookie
  * banners, footers) that recur across many documents, keeping the rest
  * of each document intact (reference big.data.table has no text
  * operators; this extends the training-data north-star set next to
  * [[Passages]], which handles fixed-width token windows instead).
  *
  * Scale shape mirrors [[Passages]]: line fingerprints are a pure
  * generator over the scan (split + posexplode, ~1 row per line, no
  * shuffle); the per-(doc, fp) pre-aggregation collapses within-doc
  * repeats BEFORE any fingerprint-keyed exchange; corpus-wide doc
  * frequency is a map-side-combinable two-level aggregate; and removal is
  * an anti-join of the line table against the hot-line set — which is
  * bounded by the corpus' boilerplate volume, so AQE broadcasts it in the
  * common case and splits residual skew otherwise (a window function
  * partitioned by fingerprint would serialize each hot line into one
  * task). Reassembly shuffles once, keyed on the doc id.
  */
object Lines {

  /** One row per line: (idCol, pos, _fp, _line) where `pos` is the
    * 0-based line index. `_fp` is md5 hex (STRING, the oracle key —
    * engine-identical in DuckDB) or xxhash64 (LONG, 4× narrower for
    * corpus-scale shuffles) of the exact line text. Empty lines
    * participate like any other line — a corpus-hot empty line is
    * boilerplate too.
    *
    * `delimiter` selects the dedup granularity: "\n" = C4-style lines
    * (default), "\n\n" = Dolma-style PARAGRAPHS. Any literal delimiter
    * is lossless: split-on-literal + join-with-the-same-literal
    * round-trips byte-identically (the delimiter is regex-quoted before
    * reaching `split`).
    */
  private def lineFps(
      df: DataFrame,
      textCol: String,
      idCol: String,
      hash64: Boolean,
      delimiter: String = "\n"
  ): DataFrame =
    df.select(
        col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delimiter)))
          .as(Seq("_pos", "_line"))
      )
      .select(
        col(idCol),
        col("_pos"),
        col("_line"),
        (if (hash64) xxhash64(col("_line")) else md5(col("_line"))).as("_fp")
      )

  /** Lines occurring in at least `minDocs` distinct documents:
    * (fp_md5 | fp_x64, n_docs, n_occ). The corpus boilerplate-line
    * catalogue — persist it and anti-join future crawls, exactly like
    * the passage catalogue ([[Passages.duplicatedPassages]]).
    */
  def duplicatedLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Int = 2,
      hash64: Boolean = false,
      delimiter: String = "\n"
  ): DataFrame = {
    require(minDocs >= 2, s"minDocs must be ≥ 2, got $minDocs")
    lineFps(df, textCol, idCol, hash64, delimiter)
      .groupBy(col(idCol), col("_fp"))
      .agg(count(lit(1)).as("_occ"))
      .groupBy(col("_fp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_occ")).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .withColumnRenamed("_fp", if (hash64) "fp_x64" else "fp_md5")
  }

  /** Remove every line whose distinct-document frequency is ≥ `minDocs`,
    * preserving the order of surviving lines; returns (idCol, textCol)
    * with the cleaned text. Documents whose every line was removed are
    * KEPT with empty text — dropping whole documents is a separate
    * policy decision ([[Passages.dropDuplicatedPassageDocs]] shape), and
    * a pipeline can trivially `filter(length(text) > 0)` after.
    *
    * The newline split/join round-trip is lossless, so untouched
    * documents come back byte-identical.
    *
    * The line generator runs twice (once under the doc-frequency agg,
    * once for reassembly) — deliberately, unlike
    * [[Passages.passageDupFraction]] which checkpoints its shared
    * per-(doc, fp) table: the table BOTH consumers need here is the raw
    * line table carrying the text itself, and pinning corpus-scale text
    * in block storage costs more than one extra embarrassingly-parallel
    * map stage over the scan.
    */
  def dropDuplicatedLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Int = 2,
      hash64: Boolean = true,
      delimiter: String = "\n"
  ): DataFrame = {
    val lines = lineFps(df, textCol, idCol, hash64, delimiter)
    val hot = duplicatedLines(df, textCol, idCol, minDocs, hash64, delimiter)
      .select(col(if (hash64) "fp_x64" else "fp_md5").as("_fp"))
    val kept = lines
      .join(hot, Seq("_fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("_pos"), col("_line")))),
            x => x.getField("_line")
          ),
          delimiter
        ).as(textCol)
      )
    // re-admit fully-boilerplate documents with empty text; NULL-text
    // documents (whose split() produced no line rows at all) come back
    // NULL, not '' — "untouched documents come back byte-identical"
    // must hold for NULL too
    df.select(col(idCol), col(textCol).isNull.as("_srcnull"))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol),
        when(col("_srcnull"), lit(null).cast("string"))
          .otherwise(coalesce(col(textCol), lit("")))
          .as(textCol)
      )
  }

  // --------------------------- persisted line-catalogue index

  /** Handle for a persisted line catalogue: ONE bucketed catalog table
    * of per-fingerprint distinct-document counts, a per-doc replay
    * ledger, and per-batch commit markers (schema and the torn-append
    * contract: [[catalogueRows]]), bucketed by `_fp` so incremental
    * probes aggregate and join the corpus side with zero Exchange.
    * Appends add rows per fingerprint (counts are summed at probe
    * time), so folding a delta in is a pure bucketed append — no
    * read-modify-write of the history. The sixth member of the
    * incremental index family (MinHash d08, SimHash64 d09, vector-LSH
    * d13, passages d18, SimHash128 d22).
    */
  case class LineIndex(
      fpTable: String,
      hash64: Boolean,
      buckets: Int,
      delimiter: String = "\n")

  /** Per-fingerprint distinct-document counts for `df` — the rows both
    * [[writeLineIndex]] and [[appendToLineIndex]] persist.
    */
  private def fpDocCounts(
      df: DataFrame,
      textCol: String,
      idCol: String,
      hash64: Boolean,
      delimiter: String = "\n"
  ): DataFrame =
    lineFps(df, textCol, idCol, hash64, delimiter)
      .select(col(idCol), col("_fp"))
      .distinct()
      .groupBy(col("_fp"))
      .agg(count(lit(1)).as("_ndocs"))

  /** The rows the catalogue persists for one batch of `df`, whose
    * [[fpDocCounts]] are `counts` — THREE kinds in ONE bucketed table
    * (schema `(_fp, _ndocs, _did, _bid)`): per-fingerprint
    * distinct-doc COUNT rows (`_did` NULL), one LEDGER
    * row per doc (`_ndocs` NULL, `_did` = the doc id, `_fp` = a
    * bucket-spread surrogate — [[ledgerFp]]), and —
    * written separately by [[commitMarker]] — one COMMIT MARKER row per
    * batch (`_fp`/`_ndocs`/`_did` all NULL). Every row carries the
    * batch id `_bid`, and the visibility rule is: **a row counts only
    * when its batch's marker row is present** ([[committedBids]]).
    *
    * The marker is what makes a torn append safe. Unlike the
    * membership tables (bands/chunks/windows — identity rows a replay
    * can heal row-level), count rows are batch-level AGGREGATES: if a
    * torn job commit landed count rows for docs whose ledger rows are
    * missing, a replay that recomputed counts over the "fresh" docs
    * would DOUBLE-COUNT every line they share (a job commit is not
    * atomic under driver death — [[graft.operators.ReplaySafe]]'s torn
    * paragraph). With the marker, a torn batch is simply invisible: its
    * orphan rows never reach a count or the ledger, the replay
    * re-derives the identical full batch, and the marker — a single
    * row, one file move — lands last as the batch's atomic commit
    * point ([[Dedup.compactBucketedIndexTable]] sweeps orphans). This
    * is the table-format commit idea (Delta/Iceberg snapshot markers)
    * in one bucketed parquet table. (Schema v3 — a pre-existing v1/v2
    * catalogue must be rebuilt with [[writeLineIndex]]; its ingest
    * history cannot be reconstructed into batch commits.)
    */
  private def catalogueRows(
      df: DataFrame,
      idCol: String,
      hash64: Boolean,
      counts: DataFrame,
      bid: Long
  ): DataFrame = {
    // `_did` keeps the id column's NATIVE type (the table is typed off
    // the build corpus' schema) — a fixed bigint cast would turn a
    // string-id corpus' ledger into NULLs, so every replay of a
    // committed batch would read as fresh and DOUBLE-COUNT its shared
    // lines: the silent failure the ledger exists to prevent. The
    // reference surface is type-dynamic throughout
    // (/root/reference/R/big.data.table.R:348-355 infers, never casts).
    val idType = df.schema(idCol).dataType
    counts
      .select(
        col("_fp"), col("_ndocs"),
        lit(null).cast(idType).as("_did"), lit(bid).as("_bid"))
      .unionByName(
        df.select(
          ledgerFp(col(idCol), hash64).as("_fp"),
          lit(null).cast("bigint").as("_ndocs"),
          col(idCol).as("_did"),
          lit(bid).as("_bid")))
  }

  /** Fail fast when a delta's id type is incompatible with the `_did`
    * type the catalogue was built with. The replay ledger matches ids
    * in their native type; letting Spark coerce an arbitrary join
    * instead would reopen the silent-NULL / lossy-comparison hole this
    * check closes. A LOSSLESS integral widening is accepted — a
    * pre-round-15 catalogue from an int-id corpus stores bigint `_did`
    * with correct values (the old cast was a lossless upcast), and
    * failing such a healthy store would demand a pointless rebuild.
    */
  private def requireLedgerIdType(delta: DataFrame, idCol: String, idx: LineIndex): Unit = {
    import org.apache.spark.sql.types._
    val stored = delta.sparkSession.table(idx.fpTable).schema("_did").dataType
    val incoming = delta.schema(idCol).dataType
    def width(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 4
      case LongType => 8; case _ => -1
    }
    val ok = stored == incoming ||
      (width(stored) > 0 && width(incoming) > 0 && width(stored) >= width(incoming))
    require(
      ok,
      s"line catalogue ${idx.fpTable} stores doc ids as $stored but the delta's " +
        s"`$idCol` is $incoming — the replay ledger matches ids in their native " +
        s"type, so a mismatched append could silently double-count on replay; " +
        s"rebuild the catalogue from a corpus with the intended id type")
  }

  /** Bucket-SPREAD surrogate `_fp` for a ledger row: a hash of the doc
    * id in the table's fp kind. The fp of a ledger row is never joined
    * or aggregated (row kind is keyed off column NULLABILITY — counts
    * have `_ndocs`, ledger rows have `_did`, markers have neither — so
    * a surrogate colliding with a real line fp is harmless); its only
    * job is to spread the per-doc ledger across ALL buckets. A NULL fp
    * would hash every ledger row of a billion-doc corpus into the one
    * NULL bucket, making each batch's ledger read a single-task scan of
    * the whole ingest history — the classic skewed-bucket trap.
    */
  private def ledgerFp(id: org.apache.spark.sql.Column, hash64: Boolean) =
    if (hash64) xxhash64(id) else md5(id.cast("string"))

  /** The single-row batch commit marker (see [[catalogueRows]]). One
    * row ⇒ one task file ⇒ one rename: the batch's atomic commit point.
    */
  private def markerRow(
      spark: org.apache.spark.sql.SparkSession,
      hash64: Boolean,
      didType: org.apache.spark.sql.types.DataType,
      bid: Long
  ): DataFrame = {
    val fpType = if (hash64) "bigint" else "string"
    spark.range(1).select(
      lit(null).cast(fpType).as("_fp"),
      lit(null).cast("bigint").as("_ndocs"),
      lit(null).cast(didType).as("_did"),
      lit(bid).as("_bid"))
  }

  /** Append the commit marker that makes batch `bid`'s rows visible.
    * The marker's NULL `_did` is typed off the EXISTING table — the
    * id type was fixed at build time ([[catalogueRows]]).
    */
  private def commitMarker(idx: LineIndex, bid: Long, spark: org.apache.spark.sql.SparkSession): Unit =
    Dedup.writeBucketedTable(
      markerRow(spark, idx.hash64, spark.table(idx.fpTable).schema("_did").dataType, bid),
      idx.fpTable, idx.buckets, Seq("_fp"),
      org.apache.spark.sql.SaveMode.Append)

  /** A fresh batch id for an append attempt. Uniqueness vs every prior
    * bid is what keeps an orphaned (marker-less) attempt invisible
    * forever; a 64-bit random draw makes a collision with the bounded
    * set of committed bids negligible (`0L` is reserved for builds and
    * compaction output, whose write IS their commit).
    */
  private def newBid(): Long = {
    val b = java.util.UUID.randomUUID().getMostSignificantBits
    if (b == 0L) 1L else b
  }

  /** Batch ids whose commit marker landed — the visibility set. The
    * RESULT is one row per committed batch (compaction collapses
    * history to a single batch), so the driver read is bounded; the
    * SCAN behind it is column-pruned to `(_fp, _did, _bid)` and
    * parquet null-count row-group stats skip every count and ledger
    * group (`_fp IS NULL` needs a nonzero fp null count; only marker
    * rows have one), leaving the NULL-fp bucket's marker rows — a
    * per-batch cost that tracks the number of committed batches, paid
    * once per fold/probe call.
    * The resulting `isin` filter pushes into the corpus scan instead
    * of joining it on a non-bucket key (a join's planner-estimated
    * marker side could flip to a sort-merge and shuffle the corpus).
    */
  private def committedBids(
      spark: org.apache.spark.sql.SparkSession,
      idx: LineIndex
  ): Seq[Long] =
    spark.table(idx.fpTable)
      .filter(col("_fp").isNull && col("_did").isNull)
      .select(col("_bid"))
      .collect().map(_.getLong(0)).toSeq

  /** Build and persist a line catalogue for `df` under catalog table
    * `<name>_linefps`. `hash64 = true` (default) stores LONG keys — the
    * index is nothing but fingerprints (plus the id-sized replay
    * ledger, [[catalogueRows]]), so the 4× narrower key dominates its
    * footprint.
    */
  def writeLineIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      name: String,
      hash64: Boolean = true,
      buckets: Int = 32,
      delimiter: String = "\n"
  ): LineIndex = {
    val idx = LineIndex(s"${name}_linefps", hash64, buckets, delimiter)
    // a build is its own commit: rows + marker land in the one
    // Overwrite (a torn build leaves no canonical table to corrupt —
    // the caller re-runs it)
    Dedup.writeBucketedTable(
      catalogueRows(df, idCol, hash64, fpDocCounts(df, textCol, idCol, hash64, delimiter), bid = 0L)
        .unionByName(markerRow(df.sparkSession, hash64, df.schema(idCol).dataType, bid = 0L)),
      idx.fpTable,
      buckets,
      Seq("_fp"),
      org.apache.spark.sql.SaveMode.Overwrite
    )
    idx
  }

  /** Fold a delta into an existing line catalogue (after it was cleaned
    * via [[dropDuplicatedLinesIncremental]]) so the NEXT delta cleans
    * against corpus ∪ this delta: the line family's append without its
    * emission ([[IndexFold.appendOnly]]).
    */
  def appendToLineIndex(
      delta: DataFrame,
      textCol: String,
      idCol: String,
      idx: LineIndex
  ): Unit = {
    requireLedgerIdType(delta, idCol, idx)
    IndexFold.appendOnly(lineFamily(delta, textCol, idCol, idx))
  }

  /** Clean a delta against the persisted catalogue: remove every delta
    * line whose distinct-document frequency across corpus ∪ delta is
    * ≥ `minDocs` — result-identical (per delta doc) to
    * [[dropDuplicatedLines]] over the full union, without rescanning
    * the corpus. The corpus side is a bucketed scan aggregated on its
    * own bucket key (`_fp`) and then joined on it — zero corpus-side
    * Exchange; only the delta's fingerprints shuffle, into the index's
    * partitioning. NOTE: a delta document must not already be in the
    * index (same contract as every incremental probe in the family).
    * The line family's probe with its append dropped
    * ([[IndexFold.probeOnly]]): the result is materialized.
    */
  def dropDuplicatedLinesIncremental(
      delta: DataFrame,
      textCol: String,
      idCol: String,
      idx: LineIndex,
      minDocs: Int = 2
  ): DataFrame =
    IndexFold.probeOnly(lineFamily(delta, textCol, idCol, idx, minDocs))

  /** Probe-then-append in ONE delta pass: clean the delta against the
    * catalogue as it stands, then fold the delta's line counts in — the
    * per-batch body of the unbounded-ingest loop (st02, and any
    * foreachBatch caller). One family, three ways: see [[ReplaySafe]]
    * ("One fold body").
    */
  def dropDuplicatedLinesIncrementalFold(
      delta: DataFrame,
      textCol: String,
      idCol: String,
      idx: LineIndex,
      minDocs: Int = 2,
      sink: Option[DataFrame => Unit] = None
  ): DataFrame = {
    requireLedgerIdType(delta, idCol, idx)
    IndexFold.run(lineFamily(delta, textCol, idCol, idx, minDocs), sink)
  }

  /** The line-catalogue index family ([[IndexFold]]). Signature: the
    * delta's per-fingerprint doc counts, the one line pass that both the
    * probe and the append read. Ledger: the ledger rows of COMMITTED
    * batches (`_did`, one row per doc; the committed batch ids are read
    * once per family value and reused by the probe). A torn attempt
    * (rows landed, marker missing) is invisible, so its replay re-derives
    * the identical full batch instead of double-counting the lines its
    * orphan count rows share ([[catalogueRows]]). Committed proof: every
    * delta id in a committed batch. A partial replay recounts over the
    * docs no committed batch holds, and appends those as a new batch.
    */
  private[graft] def lineFamily(
      delta: DataFrame,
      textCol: String,
      idCol: String,
      idx: LineIndex,
      minDocs: Int = 2
  ): IndexFold.Family = {
    require(minDocs >= 2, s"minDocs must be ≥ 2, got $minDocs")
    val spark = delta.sparkSession
    lazy val bids = committedBids(spark, idx)
    def counts(df: DataFrame) = fpDocCounts(df, textCol, idCol, idx.hash64, idx.delimiter)
    IndexFold.Family(delta, idCol, IndexFold.PerDoc(idCol), proven = true,
      () => Seq(ReplaySafe.LedgerTable(
        spark.table(idx.fpTable).filter(col("_did").isNotNull && col("_bid").isin(bids: _*)),
        "_did")),
      () => counts(delta).localCheckpoint(true)) { case (Seq(deltaCounts), step) =>
      val fresh = step.fresh(delta, idCol)
      val freshCounts = step.excl.fold(deltaCounts)(_ => step.pin(counts(fresh)))
      new IndexFold.Probe(
        cleanedAgainstCounts(fresh, textCol, idCol, idx, minDocs, freshCounts, bids),
        () => {
          val bid = newBid()
          Dedup.writeBucketedTable(
            catalogueRows(fresh, idCol, idx.hash64, freshCounts, bid),
            idx.fpTable, idx.buckets, Seq("_fp"), org.apache.spark.sql.SaveMode.Append)
          // rows first, marker last — the marker IS the batch's commit
          commitMarker(idx, bid, spark)
        })
    }
  }

  private def cleanedAgainstCounts(
      delta: DataFrame,
      textCol: String,
      idCol: String,
      idx: LineIndex,
      minDocs: Int,
      deltaCounts: DataFrame,
      bids: Seq[Long]
  ): DataFrame = {
    val spark = delta.sparkSession
    val lines = lineFps(delta, textCol, idCol, idx.hash64, idx.delimiter)
    // appends leave multiple rows per fp; summing on the bucket key
    // plans as a bucketed scan + partial agg with no Exchange. Non-count
    // rows (NULL _ndocs: ledger + markers) are filtered out — and so are
    // orphan rows of uncommitted batches (the `_bid` isin is a pushed
    // parquet predicate, not a join; see [[committedBids]]).
    val corpusCounts = spark
      .table(idx.fpTable)
      .filter(col("_ndocs").isNotNull && col("_bid").isin(bids: _*))
      .groupBy(col("_fp"))
      .agg(sum(col("_ndocs")).as("_corpus_ndocs"))
    val hot = deltaCounts
      .join(corpusCounts, Seq("_fp"), "left")
      .filter(
        col("_ndocs") + coalesce(col("_corpus_ndocs"), lit(0L)) >= minDocs
      )
      .select(col("_fp"))
    val kept = lines
      .join(hot, Seq("_fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("_pos"), col("_line")))),
            x => x.getField("_line")
          ),
          idx.delimiter
        ).as(textCol)
      )
    // same NULL-preserving re-admission as [[dropDuplicatedLines]]
    delta.select(col(idCol), col(textCol).isNull.as("_srcnull"))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol),
        when(col("_srcnull"), lit(null).cast("string"))
          .otherwise(coalesce(col(textCol), lit("")))
          .as(textCol)
      )
  }

  /** Compact the line catalogue after many appends: merge the committed
    * count rows into one row per fingerprint (probes sum at read time
    * either way — compaction keeps the sum but shrinks the table back
    * to one row and one file set per bucket), carry the committed
    * ledger through, SWEEP the orphan rows of uncommitted (marker-less)
    * batches, and re-commit everything as the single batch `_bid = 0`.
    * See [[Dedup.compactBucketedIndexTable]] for the swap mechanics.
    */
  def compactLineIndex(
      spark: org.apache.spark.sql.SparkSession,
      idx: LineIndex
  ): Unit =
    Dedup.compactBucketedIndexTable(
      spark,
      idx.fpTable,
      idx.buckets,
      Seq("_fp"),
      t => {
        // visibility inside the one-shot rewrite is a semi join (no
        // driver collect needed off the hot path); markers have both
        // key columns NULL
        val committed = t
          .filter(col("_fp").isNull && col("_did").isNull)
          .select(col("_bid"))
          .distinct()
        val vis = t.join(committed, Seq("_bid"), "left_semi")
        val didT = t.schema("_did").dataType
        val counts = vis
          .filter(col("_ndocs").isNotNull)
          .groupBy(col("_fp"))
          .agg(sum(col("_ndocs")).as("_ndocs"))
          .select(
            col("_fp"), col("_ndocs"),
            lit(null).cast(didT).as("_did"), lit(0L).as("_bid"))
        // ledger rows dedup by doc id (a doc commits under exactly one
        // batch, but belt-and-braces against hand-planted states)
        val ledger = vis
          .filter(col("_did").isNotNull)
          .select(
            col("_fp"), col("_ndocs"), col("_did"), lit(0L).as("_bid"))
          .distinct()
        counts
          .unionByName(ledger)
          .unionByName(markerRow(t.sparkSession, idx.hash64, didT, bid = 0L))
      }
    )
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** At-least-once replay safety for the probe-then-append fold family
  * (`*IncrementalFold`). Structured Streaming's foreachBatch contract
  * is at-least-once: a crash AFTER a fold appended its delta to the
  * index but BEFORE the sink write / offset-log commit makes the engine
  * REPLAY the whole micro-batch — and a naive fold would then (a)
  * append the delta's rows a second time (duplicate index rows,
  * corrupted counts) and (b) probe an index that already contains the
  * batch, emitting duplicate pairs. st07 proved the CLEAN-restart case
  * (stop between micro-batches); this module closes the mid-batch
  * replay case, the per-node retry analog of the reference's per-node
  * `try` wrapper (`/root/reference/R/big.data.table.R:127` — a
  * re-shipped expression must be safe to re-run).
  *
  * The mechanism is the index itself as the replay ledger — no batchId
  * bookkeeping, no extra commit protocol, so it composes with ANY
  * at-least-once caller, not just Structured Streaming:
  *
  *  - [[ledgerRead]]: delta ids already present in an id-bearing index
  *    table (a column-pruned corpus scan behind a broadcast semi join —
  *    the corpus side keeps its bucketed zero-Exchange scan shape).
  *    Empty on a first attempt; the whole delta after a committed
  *    append; a strict subset after a TORN append (see the torn-append
  *    paragraph below — every consumer of this set is per-id, so a
  *    subset is handled, not an error state).
  *  - [[excludeIds]]: corpus reads inside the probe drop the delta's
  *    own ids (broadcast anti), restoring the pre-append index state on
  *    a replay. On a first attempt the delta's ids are not there — the
  *    filter is a no-op and the emitted result is unchanged (the fold
  *    == probe + append gates still hold).
  *  - emission suppression: output rows whose delta participants were
  *    ALL already folded in are dropped ([[dropSeen]] for per-doc
  *    outputs, [[keepPairsTouchingUnseen]] for pair outputs) — a full
  *    replay emits NOTHING and appends NOTHING, so the union of
  *    per-attempt emissions carries no duplicate rows and the index
  *    never grows twice.
  *  - append filtering: each table's append drops the rows that TABLE
  *    already holds (per-id for one-row-per-id tables, per row
  *    identity key for multi-row ones — the torn-append paragraph), so
  *    a crash between two appends of a multi-table family (minhash
  *    bands/shingles, vector-LSH bands/vecs) heals on replay: the
  *    committed table skips, the missing one completes, and the
  *    emission ledger (the LAST-appended table) still reads "unseen",
  *    so the re-derived emissions — which the caller never received —
  *    are re-emitted.
  *
  * Torn appends: the ledger mechanism does not require an append to be
  * all-or-nothing — if a crash lands mid job-commit and only part of a
  * table's delta rows were moved in (FileOutputCommitter's job commit
  * is not atomic under driver death), the replay completes the missing
  * rows, converging to the same table state as a clean fold. For the
  * one-row-per-id tables (shingles, vectors, IVF lists, the exact fp
  * table keyed by the fp itself) the per-id filters give this for
  * free. The multi-row-per-id tables (minhash bands, simhash chunks,
  * vector-LSH bands, passage windows) need ROW-level healing: a tear
  * can land WITHIN one id (a doc's 16 band rows span up to 16 bucketed
  * files), leaving it "seen" by id with rows missing — so their
  * appends use [[rowKeysPresent]]/[[dropRowsPresent]] (a null-safe
  * anti-join on the row identity key) instead of a per-id drop.
  * Re-derivation is deterministic (admission excludes the delta's
  * stored rows and ranks by id), so completing exactly the
  * absent rows reconstructs the clean-fold table. The first attempt
  * never pays for this: [[noneSeen]] gates the row-level path to
  * replays (no delta id in the table ⇒ the plain append is already
  * correct). The line catalogue is the one family NEITHER granularity
  * can heal — its count rows are batch-level AGGREGATES, not identity
  * rows — so it gates visibility behind a per-batch single-row commit
  * marker instead ([[Lines.catalogueRows]]): a torn batch is invisible
  * and the replay re-derives it whole. The one thing a torn LEDGER
  * append costs is emissions: ids whose ledger rows did commit read
  * "seen" on replay, so their
  * never-delivered pairs are suppressed — recoverable only via the
  * sink path below, which is why at-least-once callers should pass a
  * sink rather than rely on the ledger alone.
  *
  * Committed replay: the common replay is of a micro-batch whose
  * appends all committed, and for it the slow path above re-derives
  * banding, admission, candidates and verification only for
  * [[keepPairsTouchingUnseen]] and [[dropRowsPresent]] to discard every
  * result. [[committed]] recognizes it from the ledger checkpoint
  * alone: every delta id is in each one-row-per-id table, and holds all
  * `n` distinct row keys `[0, n)` of each multi-row-per-id table (the
  * keys a clean fold stores — MinHash bands, SimHash keys, vector-LSH
  * tables). The check is exact
  * for that state: with every id in the emission ledger the unseen set
  * is empty, so the slow path emits nothing; with every (id, key) row
  * present its row-level heal drops every admitted row (admitted keys
  * lie in `[0, n)`), so it appends nothing. A fold that finds it
  * ([[classify]] ⇒ [[Committed]]) skips admission, probe, verification
  * and every append and hands its sink an empty frame of the slow
  * path's schema ([[emptyLike]]). Every other replay keeps the slow
  * path: a torn append (an id or one of its rows missing), a doc the
  * bucket cap kept out of some band or key (fewer than `n` rows stored
  * by design), a partially seen delta. Counting DISTINCT keys in range,
  * not rows, keeps a duplicated or stray row from standing in for a
  * missing one.
  *
  * What this does NOT give by itself: a crash after BOTH the appends
  * and the fold's return but before the caller persisted the emissions
  * loses those emissions (the replay suppresses them). That is the
  * sink's half of exactly-once, closed by each fold's optional `sink`
  * callback — invoked on the materialized emission frame BEFORE the
  * first index append, so emissions are durable by the time the replay
  * ledger can suppress them — with [[IdempotentSink]] (atomic
  * rename-committed per-batch parquet dirs, first write wins) as the
  * canonical callback. A fold called without a sink keeps the
  * document-it-yourself contract above.
  *
  * One fold body ([[IndexFold]]): seven index families — MinHash,
  * SimHash, vector-LSH, semDedup, passages, the line catalogue and exact
  * dedup — are each one [[IndexFold.Family]] value: ledger tables,
  * signature thunks, and a probe whose emission is lazy and whose
  * appends fold the delta in. It runs three ways:
  *  - the replay-safe fold ([[IndexFold.run]], every `*IncrementalFold`
  *    but IVF-SQ8's);
  *  - probe-only ([[IndexFold.probeOnly]], the `*Incremental` probes):
  *    the emission, checkpointed, with the appends dropped;
  *  - append-only ([[IndexFold.appendOnly]]: `appendToMinHashIndex`,
  *    `appendToSimHashIndex`, `appendToLshIndex`, `appendToLineIndex`):
  *    the appends, with the emission never built, so nothing only the
  *    emission reads is pinned. Passages appends through its index
  *    build's own write, semDedup through [[Similarity.ivfAppend]], and
  *    exact dedup through `appendToExactDedupIndex`, one plain write.
  *
  * Probe-only and append-only read no ledger: their step is a first
  * attempt's (no `excl`, unfiltered appends) except for one fact. The
  * fold proves that no delta id is in a corpus read, and a ledger-free
  * call does not (it may re-probe stored docs), so its verify keeps the
  * four-join coalesce shape ([[IndexFold.Step]]'s `sidesDisjoint`). Both
  * release every signature result and every pinned frame on every exit.
  * The fold's order:
  *  1. The ledger read ([[ledgerRead]]) with [[classify]] runs on one
  *     driver thread beside the family's signature thunks ([[Overlap]]).
  *  1. The attempt decides `excl` (the delta's ids, dropped from every
  *     corpus read on a replay) and the emission filter: pairs touching
  *     an unseen doc, or rows of unseen docs (no filter on a first
  *     attempt).
  *  1. [[Committed]]: the sink gets [[emptyLike]] of the family's lazy
  *     probe plan, built with an identity `pin`, and no job runs.
  *  1. Otherwise the probe runs, its emission is checkpointed before any
  *     append, the sink persists it, then the family's appends run
  *     overlapped.
  *  1. One release path: the ledger checkpoint, every signature result
  *     and every frame the probe materialized (through the body's `pin`,
  *     its only way to) are released on every exit, and the emission too
  *     when the fold throws. When an overlapped thunk throws, its
  *     siblings' results are released before the throw.
  *
  * A family supplies its ledger tables with their row keys, its
  * signature thunks, the lazy probe with its appends, and its emission
  * shape. Passages declines the committed proof: its row keys are
  * fingerprints, not `[0, n)`, so every replay takes the slow path,
  * which heals a tear inside one doc. The line catalogue's ledger is
  * the per-doc rows of its committed batches (a torn batch has no
  * commit marker, so it stays invisible and its replay re-derives it
  * whole), one row per id, so its committed proof is every delta id
  * present. The exact family has no ledger tables: its fingerprint
  * table is the ledger and membership is the probe, so the fold reads
  * no ledger and every call is a first attempt. One fold stays outside,
  * with its own release path: the IVF-SQ8 fold's ledger read depends on
  * the centroids the delta touches, so it cannot overlap the signature
  * compute.
  */
private[graft] object ReplaySafe {

  /** `corpus` without the delta's ids: a broadcast anti join, so the
    * corpus side keeps its bucketed, Exchange-free scan shape. On a
    * first attempt (ids absent) this is a semantic no-op.
    */
  def excludeIds(corpus: DataFrame, idColName: String, ids: DataFrame): DataFrame =
    corpus.join(broadcast(ids), corpus(idColName) === ids("_rid"), "left_anti")

  /** Views over one [[ledgerRead]] checkpoint `tagged` (`_rid`, `_t`,
    * `_k`): `_t` is the index of the ledger table that already holds the
    * delta id (one row per stored ROW, not per id — see [[ledgerRead]])
    * and 2 for the delta's own ids; `_k` is the row key of a
    * multi-row-per-id table (NULL for one-row-per-id tables and the delta
    * ids). `rids` = the delta's ids, `seen(t)` = table `t`'s seen set,
    * `seenAny` = their union (the first-attempt test:
    * `noneSeen(seenAny)`). The views are lazy filters over the cached
    * `tagged` blocks — safe to splice into probe plans and to broadcast,
    * because after the checkpoint their plans reference ONLY our
    * LogicalRDD leaf, never the caller's delta blocks
    * ([[graft.CacheUtil.release]] walks to LogicalRDD leaves). The caller
    * releases `tagged`.
    */
  final case class Ledger(tagged: DataFrame, tables: Int) {
    def seen(t: Int): DataFrame = tagged.filter(col("_t") === t).select(col("_rid"))
    def rids: DataFrame = seen(2)
    def seenAny: DataFrame =
      if (tables == 1) seen(0) else tagged.filter(col("_t") =!= 2).select(col("_rid"))
  }

  /** One table of a fold's replay ledger: the delta ids
    * `corpus(idColName)` holds. `keys` names the row key of a
    * multi-row-per-id table and the `n` keys `[0, n)` a clean fold stores
    * per id ([[committed]]); `None` for a one-row-per-id table.
    */
  final case class LedgerTable(
      corpus: DataFrame,
      idColName: String,
      keys: Option[(String, Int)] = None)

  /** One ledger table's leg: the delta ids `corpus` holds, one row per
    * stored row, with the row key `keyCol` as `_k` for a
    * multi-row-per-id table. NOT deduped (r19): a distinct here cost an
    * Exchange + two HashAggregates + an AQE stage round on EVERY fold's
    * ledger read. Every consumer tolerates duplicates: [[noneSeen]] is
    * emptiness, [[dropSeen]]/[[unseenIds]] broadcast the seen set into
    * anti joins whose hash-relation build dedups keys anyway, and
    * [[committed]] counts distinct keys.
    */
  private def seenLeg(
      corpus: DataFrame,
      idColName: String,
      keyCol: Option[String],
      ids: DataFrame,
      t: Int
  ): DataFrame =
    corpus
      .select(col(idColName).as("_rid"), keyCol.fold(lit(null).cast("int"))(col).as("_k"))
      .join(broadcast(ids), Seq("_rid"), "left_semi")
      .withColumn("_t", lit(t))

  /** The fold's whole per-batch replay-ledger read in ONE materialized
    * job (r19): for each of (at most two) ledger tables, the delta ids it
    * already holds (a column-pruned corpus scan behind a broadcast semi
    * join — the corpus side keeps its bucketed zero-Exchange scan
    * shape), tag-unioned with the delta's id frame, and checkpointed
    * once. Materialized eagerly: it must snapshot the PRE-append state,
    * and it feeds several later filters. Tiny by construction (≤ the
    * micro-batch's rows in the tables). A seen set is empty on a first
    * attempt, the whole delta after a committed append, and a strict
    * subset after a TORN append (every consumer of it is per-id, so a
    * subset is handled, not an error state). A table's `keys` column is
    * carried as `_k` for [[committed]].
    */
  def ledgerRead(delta: DataFrame, idCol: String, tables: LedgerTable*): Ledger = {
    require(tables.size == 1 || tables.size == 2, s"one or two ledger tables, got ${tables.size}")
    val ids = delta.select(col(idCol).as("_rid"))
    val tagged = tables.zipWithIndex
      .map { case (t, i) => seenLeg(t.corpus, t.idColName, t.keys.map(_._1), ids, i) }
      .reduce(_ unionByName _)
      .unionByName(deltaLeg(ids))
      .localCheckpoint(true)
    Ledger(tagged, tables.size)
  }

  private def deltaLeg(ids: DataFrame): DataFrame =
    ids.withColumn("_k", lit(null).cast("int")).withColumn("_t", lit(2))

  /** True iff the ledger proves the whole micro-batch already folded:
    * every delta id is in each ledger table, with all of its rows.
    * `keysPerDoc` has one entry per ledger table, in `_t` order: `None`
    * for a one-row-per-id table (the id must be present), `Some(n)` for
    * a multi-row-per-id table whose clean fold stores keys `[0, n)` per
    * id (minhash `_band`, SimHash `_chunk`) — the id must hold all `n`
    * DISTINCT keys in that range, so a duplicated row cannot stand in for
    * a missing one and a stray key outside it counts for nothing.
    *
    * Reads only the ledger checkpoint, never the index. The per-id
    * grouping is one RDD shuffle counted in ONE job: the same aggregate
    * as a DataFrame costs an adaptive shuffle-stage job plus a result
    * job, and this check sits on the replay's critical path. Ledger rows
    * are the delta's stored rows, so the shuffle is micro-batch sized.
    * Only asked on a replay ([[classify]]), so a first attempt never
    * pays for it.
    */
  def committed(ledger: Ledger, keysPerDoc: Option[Int]*): Boolean = {
    require(keysPerDoc.size == ledger.tables,
      s"one keysPerDoc entry per ledger table: ${ledger.tables}, got ${keysPerDoc.size}")
    val (t, k) = (col("_t"), col("_k"))
    // the slot a seen row fills in its table: 0 in a one-row-per-id
    // table, its key in a multi-row one (NULL when out of range — and
    // for the delta's own id rows, which only make the id a group)
    val slot = keysPerDoc.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (other, (n, i)) =>
        when(t === i, n.fold(lit(0))(n => when(k >= 0 && k < n, k))).otherwise(other)
    }
    val need = keysPerDoc.map(_.getOrElse(1))
    ledger.tagged
      .select(col("_rid"), t, slot)
      .rdd
      .map { r =>
        (r.get(0), if (r.isNullAt(2)) Set.empty[(Int, Int)] else Set((r.getInt(1), r.getInt(2))))
      }
      .reduceByKey(_ ++ _, ledger.tagged.sparkSession.sparkContext.defaultParallelism)
      .filter { case (_, held) => need.indices.exists(i => held.count(_._1 == i) < need(i)) }
      .count() == 0
  }

  /** What a fold does with this micro-batch, decided from its ledger. */
  sealed trait Attempt

  /** No delta id in any ledger table: the plain probe and appends. */
  case object FirstAttempt extends Attempt

  /** Some delta ids seen, not all fully folded: the exclusion path, with
    * row-level append healing.
    */
  case object Replay extends Attempt

  /** Every delta id fully folded ([[committed]]): emit nothing and
    * append nothing, without probing.
    */
  case object Committed extends Attempt

  /** [[noneSeen]], then on a replay [[committed]] with `keysPerDoc`
    * (`None`: the family has no committed proof, every replay is a
    * [[Replay]]) — the two decisions a fold's ledger thunk makes while
    * its signature compute runs ([[Overlap]]). Releases the ledger if
    * either check throws.
    */
  def classify(ledger: Ledger, keysPerDoc: Option[Seq[Option[Int]]]): Attempt =
    try {
      if (noneSeen(ledger.seenAny)) FirstAttempt
      else if (keysPerDoc.exists(committed(ledger, _: _*))) Committed
      else Replay
    } catch {
      case e: Throwable =>
        graft.CacheUtil.release(ledger.tagged)
        throw e
    }

  /** An empty frame with `shape`'s schema, built without running
    * `shape` (no action, no job) — a [[Committed]] fold's emission.
    * Folds pass the slow path's own lazy plan, so the schema (names,
    * types, nullability) is the slow path's by construction.
    */
  def emptyLike(shape: DataFrame): DataFrame =
    shape.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](), shape.schema)

  /** Delta ids NOT in `seen` — the docs whose emissions have never been
    * handed to a caller. LAZY over its two materialized inputs (a pure
    * broadcast anti join over cached blocks — no table scan, so it
    * needs no pre-append snapshot of its own and saves one eager job
    * per fold); `release` walks to the inputs' checkpoints, which the
    * folds release anyway. Consumers must evaluate it before the
    * inputs are released (every fold does: emission suppression runs
    * inside the pre-append verify materialization).
    */
  def unseenIds(ids: DataFrame, seen: DataFrame): DataFrame =
    ids
      .join(broadcast(seen), Seq("_rid"), "left_anti")
      .distinct()

  /** Rows of `df` whose `colName` is not in `seen` (broadcast anti) —
    * the append filter, and the emission filter for per-doc outputs.
    */
  def dropSeen(df: DataFrame, colName: String, seen: DataFrame): DataFrame =
    df.join(broadcast(seen), df(colName) === seen("_rid"), "left_anti")

  /** True iff `seen` (a [[Ledger]] seen view) is empty — the
    * first-attempt fast path. When NO delta id has rows in a table, the
    * plain append is already correct, so the fold skips the row-level
    * heal ([[rowKeysPresent]]/[[dropRowsPresent]]) entirely and the
    * first-attempt plan carries no extra join. Cheap: `seen` is a tiny
    * materialized frame, so this is a take(1) over cached blocks.
    */
  def noneSeen(seen: DataFrame): Boolean = seen.isEmpty

  /** The row identity keys (`keyCols` tuples) the table already holds
    * for the delta's ids — the ROW-level replay ledger for
    * multi-row-per-id tables, where a torn job commit can land WITHIN
    * one id. Materialized eagerly: it must snapshot the PRE-append
    * state, and the append that consumes it writes into the very table
    * it reads. Bounded by the delta's ids × rows-per-id (bands/chunks:
    * a small constant; passage windows: the delta's window count) and
    * only ever computed on the replay path ([[noneSeen]] gates it).
    * Callers release after the append.
    */
  def rowKeysPresent(
      corpus: DataFrame,
      idColName: String,
      ids: DataFrame,
      keyCols: Seq[String]
  ): DataFrame =
    corpus
      .join(broadcast(ids), corpus(idColName) === ids("_rid"), "left_semi")
      .select(keyCols.map(col): _*)
      .distinct()
      .localCheckpoint(true)

  /** Rows of `df` whose `keyCols` tuple is absent from `present` (a
    * [[rowKeysPresent]] frame) — the row-level append filter: a replay
    * after a torn append completes exactly the missing rows of every
    * id, duplicating none. Null-safe per column (defensive — row kinds
    * with NULL key columns existed in schema v2 and may be planted in
    * tests). Join strategy is AQE's call: `present` is
    * materialized, so an empty/small set broadcasts and a full replay's
    * set sort-merges.
    */
  def dropRowsPresent(
      df: DataFrame,
      present: DataFrame,
      keyCols: Seq[String]
  ): DataFrame = {
    val p = present.toDF(keyCols.map("_prs_" + _): _*)
    val cond = keyCols.map(k => df(k) <=> p("_prs_" + k)).reduce(_ && _)
    df.join(p, cond, "left_anti")
  }

  /** Pair rows with at least one endpoint in `unseen` — i.e. suppress a
    * pair only when every delta-side participant was already folded in
    * (corpus-side endpoints are never delta ids, so any pair touching a
    * genuinely-new doc survives; on a first attempt every emitted pair
    * touches the delta by construction and nothing is dropped).
    */
  def keepPairsTouchingUnseen(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      unseen: DataFrame
  ): DataFrame = {
    val ua = unseen.select(col("_rid").as("_unseen_a"))
    val ub = unseen.select(col("_rid").as("_unseen_b"))
    pairs
      .join(broadcast(ua), pairs(aCol) === ua("_unseen_a"), "left")
      .join(broadcast(ub), pairs(bCol) === ub("_unseen_b"), "left")
      .filter(col("_unseen_a").isNotNull || col("_unseen_b").isNotNull)
      .drop("_unseen_a", "_unseen_b")
  }
}

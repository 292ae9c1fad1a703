package graft.operators

import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** The one body of the MinHash, SimHash, vector-LSH, semDedup, passage,
  * line-catalogue and exact-dedup index families. A family is one
  * [[Family]] value; [[run]] folds it replay-safely, [[probeOnly]] runs
  * its probe with the appends dropped and [[appendOnly]] its appends
  * with the emission dropped. A family may have no ledger tables (exact
  * dedup: membership in its one table is the probe); the fold then reads
  * no ledger and treats every call as a first attempt. The order, the
  * release contract and why the IVF-SQ8 fold stays out are in
  * [[ReplaySafe]] ("One fold body").
  */
private[graft] object IndexFold {

  /** How an emission row names the delta docs it belongs to — what a
    * replay suppresses once they are folded in.
    */
  sealed trait Emission

  /** `id_a`/`id_b` pairs, kept while an endpoint is unseen
    * ([[ReplaySafe.keepPairsTouchingUnseen]]).
    */
  case object Pairs extends Emission

  /** One row per delta doc, keyed by `idCol`, kept while the doc is
    * unseen ([[ReplaySafe.dropSeen]]).
    */
  final case class PerDoc(idCol: String) extends Emission

  /** A family's probe: its emission, built on first use only, and the
    * appends that fold the delta in afterwards (run overlapped — they
    * must write different tables). An append-only run never builds the
    * emission, so it pins nothing that only the emission reads.
    */
  final class Probe(emit: => DataFrame, val appends: (() => Unit)*) {
    lazy val emission: DataFrame = emit
  }

  /** One index family over one delta: its ledger `tables` (read by the
    * fold alone, inside its overlapped ledger thunk; none for a family
    * whose probe is its own membership test, which the fold runs as a
    * first attempt every time), whether their keys prove a committed
    * replay (`proven`, [[ReplaySafe.committed]]), its signature thunks,
    * and its `probe`, which gets the signature results in order.
    */
  final case class Family(
      delta: DataFrame,
      idCol: String,
      emission: Emission,
      proven: Boolean,
      tables: () => Seq[ReplaySafe.LedgerTable],
      signatures: (() => DataFrame)*
  )(val probe: (IndexedSeq[DataFrame], Step) => Probe)

  /** The attempt as a family's probe sees it. `pin` is the probe's only
    * way to materialize a frame (`identity` on a committed replay, which
    * needs only the plan's schema); `excl` is the delta's ids to exclude
    * from corpus reads, `None` on a first attempt and in a ledger-free
    * call. `sidesDisjoint` says that no delta id is in a corpus read:
    * true in the fold (`excl` strips them on a replay, and a first
    * attempt's ledger proved none is stored), false in a ledger-free
    * call, which may re-probe stored docs.
    */
  final class Step private[IndexFold] (
      ledger: Option[ReplaySafe.Ledger],
      val sidesDisjoint: Boolean,
      val pin: DataFrame => DataFrame) {
    val excl: Option[DataFrame] = ledger.map(_.rids)

    /** `rows` whose `idColName` the emission ledger (table 0) does not
      * hold yet — the append of a one-row-per-id table.
      */
    def fresh(rows: DataFrame, idColName: String): DataFrame =
      ledger.fold(rows)(l => ReplaySafe.dropSeen(rows, idColName, l.seen(0)))

    /** The append of ledger table `t`, a multi-row-per-id table (bands,
      * keys, passage windows), healed at ROW granularity: a torn job
      * commit can land WITHIN one id, so dropping whole seen ids would
      * leave that id incomplete. When table `t` holds some delta id, the
      * append anti-joins on the row identity `rowKey` and completes
      * exactly the missing rows; otherwise (always on a first attempt)
      * it appends unfiltered, with no extra join.
      */
    def appendHealed(
        rows: DataFrame,
        table: String,
        nBuckets: Int,
        bucketKeys: Seq[String],
        rowKey: Seq[String],
        idColName: String,
        t: Int
    ): Unit = {
      val present = ledger.filterNot(l => ReplaySafe.noneSeen(l.seen(t))).map(l =>
        ReplaySafe.rowKeysPresent(rows.sparkSession.table(table), idColName, l.rids, rowKey))
      try
        Dedup.writeBucketedTable(
          present.fold(rows)(ReplaySafe.dropRowsPresent(rows, _, rowKey)),
          table, nBuckets, bucketKeys, org.apache.spark.sql.SaveMode.Append)
      finally present.foreach(graft.CacheUtil.release)
    }
  }

  /** Folds the family's delta in and returns its emission (see
    * [[ReplaySafe]]).
    */
  def run(f: Family, sink: Option[DataFrame => Unit]): DataFrame = {
    var ledger: ReplaySafe.Ledger = null
    var attempt: ReplaySafe.Attempt = ReplaySafe.FirstAttempt
    val sigs = Overlap.run[DataFrame]((() => {
      val ts = f.tables()
      // no ledger tables: no ledger read, every call a first attempt
      if (ts.nonEmpty) {
        ledger = ReplaySafe.ledgerRead(f.delta, f.idCol, ts: _*)
        attempt = ReplaySafe.classify(ledger, Option.when(f.proven)(ts.map(_.keys.map(_._2))))
      }
      Option(ledger).map(_.tagged).orNull
    }) +: f.signatures, Option(_).foreach(graft.CacheUtil.release)).tail
    val pinned = mutable.ArrayBuffer[DataFrame]() ++= Option(ledger).map(_.tagged) ++= sigs
    var out: DataFrame = null
    try {
      val committed = attempt == ReplaySafe.Committed
      val pin: DataFrame => DataFrame = if (committed) identity else pinInto(pinned)
      val firstAttempt = attempt == ReplaySafe.FirstAttempt
      val p = f.probe(sigs, new Step(Option.unless(firstAttempt)(ledger), sidesDisjoint = true, pin))
      val emitted =
        if (firstAttempt) p.emission
        else f.emission match {
          case Pairs => ReplaySafe.keepPairsTouchingUnseen(
            p.emission, "id_a", "id_b", ReplaySafe.unseenIds(ledger.rids, ledger.seen(0)))
          case PerDoc(c) => ReplaySafe.dropSeen(p.emission, c, ledger.seen(0))
        }
      // the emission is materialized BEFORE any append mutates the index
      out = if (committed) ReplaySafe.emptyLike(emitted) else emitted.localCheckpoint(true)
      sink.foreach(_(out))
      if (!committed) Overlap.run[Unit](p.appends, _ => ())
      out
    } catch {
      case e: Throwable =>
        Option(out).foreach(graft.CacheUtil.release)
        throw e
    } finally pinned.foreach(graft.CacheUtil.release)
  }

  /** The family's emission against the index as it stands, checkpointed;
    * nothing is appended. The caller releases it.
    */
  def probeOnly(f: Family): DataFrame = withProbePlan(f)(_.localCheckpoint(true))

  /** Folds the family's delta in without building its emission. */
  def appendOnly(f: Family): Unit = ledgerFree(f)(p => Overlap.run[Unit](p.appends, _ => ()))

  /** `use` of the family's lazy probe-only emission plan — for plan-shape
    * tests, since [[probeOnly]]'s checkpoint hides the plan. Every frame
    * the plan reads is released when `use` returns.
    */
  private[graft] def withProbePlan[A](f: Family)(use: DataFrame => A): A =
    ledgerFree(f)(p => use(p.emission))

  /** `use` of the family's probe with no ledger read: the signatures run
    * overlapped, `pin` checkpoints, and every signature result and pinned
    * frame is released on every exit.
    */
  private def ledgerFree[A](f: Family)(use: Probe => A): A = {
    val pinned = mutable.ArrayBuffer[DataFrame]() ++=
      Overlap.run[DataFrame](f.signatures, graft.CacheUtil.release)
    try use(f.probe(pinned.toIndexedSeq, new Step(None, sidesDisjoint = false, pinInto(pinned))))
    finally pinned.foreach(graft.CacheUtil.release)
  }

  private def pinInto(pinned: mutable.ArrayBuffer[DataFrame]): DataFrame => DataFrame = { df =>
    val c = df.localCheckpoint(true)
    pinned += c
    c
  }
}

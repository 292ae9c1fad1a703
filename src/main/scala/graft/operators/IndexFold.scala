package graft.operators

import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** The one probe-then-append fold body of the MinHash, SimHash,
  * vector-LSH, semDedup and passage folds. Its order, its release
  * contract and why the other fold families stay out are in
  * [[ReplaySafe]] ("One fold body"). A family supplies its ledger
  * tables, its signature thunks, a lazy probe, the probe's appends and
  * its emission shape.
  */
private[operators] object IndexFold {

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

  /** A family's probe: its lazy emission and the appends that fold the
    * delta in afterwards (run overlapped — they must write different
    * tables).
    */
  final case class Probe(emission: DataFrame, appends: (() => Unit)*)

  /** The attempt as a family's probe sees it. `pin` is the probe's only
    * way to materialize a frame (`identity` on a committed replay, which
    * needs only the plan's schema); `excl` is the delta's ids to exclude
    * from corpus reads, `None` on a first attempt.
    */
  final class Step private[IndexFold] (
      ledger: ReplaySafe.Ledger,
      attempt: ReplaySafe.Attempt,
      val pin: DataFrame => DataFrame) {
    private val firstAttempt = attempt == ReplaySafe.FirstAttempt
    val excl: Option[DataFrame] = if (firstAttempt) None else Some(ledger.rids)

    /** `rows` whose `idColName` the emission ledger (table 0) does not
      * hold yet — the append of a one-row-per-id table.
      */
    def fresh(rows: DataFrame, idColName: String): DataFrame =
      if (firstAttempt) rows else ReplaySafe.dropSeen(rows, idColName, ledger.seen(0))

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
      val present =
        if (firstAttempt || ReplaySafe.noneSeen(ledger.seen(t))) None
        else Some(ReplaySafe.rowKeysPresent(
          rows.sparkSession.table(table), idColName, ledger.rids, rowKey))
      try
        Dedup.writeBucketedTable(
          present.fold(rows)(ReplaySafe.dropRowsPresent(rows, _, rowKey)),
          table, nBuckets, bucketKeys, org.apache.spark.sql.SaveMode.Append)
      finally present.foreach(graft.CacheUtil.release)
    }
  }

  /** Folds `delta` in and returns its emission (see [[ReplaySafe]]).
    * `tables` is read inside the overlapped ledger thunk; `proven` says
    * whether the family's `tables` keys prove a committed replay
    * ([[ReplaySafe.committed]]); `probe` gets the signature results in
    * order.
    */
  def run(
      delta: DataFrame,
      idCol: String,
      sink: Option[DataFrame => Unit],
      emission: Emission,
      proven: Boolean,
      tables: => Seq[ReplaySafe.LedgerTable],
      signatures: (() => DataFrame)*
  )(probe: (IndexedSeq[DataFrame], Step) => Probe): DataFrame = {
    var ledger: ReplaySafe.Ledger = null
    var attempt: ReplaySafe.Attempt = null
    val sigs = Overlap.run[DataFrame]((() => {
      val ts = tables
      ledger = ReplaySafe.ledgerRead(delta, idCol, ts: _*)
      attempt = ReplaySafe.classify(ledger, Option.when(proven)(ts.map(_.keys.map(_._2))))
      ledger.tagged
    }) +: signatures, graft.CacheUtil.release).tail
    val pinned = mutable.ArrayBuffer(ledger.tagged) ++= sigs
    var out: DataFrame = null
    try {
      val committed = attempt == ReplaySafe.Committed
      val pin: DataFrame => DataFrame =
        if (committed) identity
        else { df => val c = df.localCheckpoint(true); pinned += c; c }
      val p = probe(sigs, new Step(ledger, attempt, pin))
      val emitted =
        if (attempt == ReplaySafe.FirstAttempt) p.emission
        else emission match {
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
}

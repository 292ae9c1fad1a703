package graft.streaming

import graft.functions.TextFunctions
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One exploded bucket event: a document's membership in one pigeonhole
  * chunk bucket, carrying the full hash for in-bucket verification.
  */
final case class BucketEvent(chunk: Int, value: Long, doc_id: Long, simhash: Long)

/** Bounded per-bucket membership carried across micro-batches: the
  * `maxBucket` LOWEST doc ids seen in this bucket (same deterministic cap
  * rule as the batch path, so the retained set is independent of how the
  * stream is micro-batched).
  */
final case class BucketState(ids: Array[Long], hashes: Array[Long])

/** One exploded bucket event for the 128-bit stream: both fingerprint
  * words ride along so verification and lowest-chunk recomputation stay
  * in-state.
  */
final case class Bucket128Event(
    chunk: Int,
    value: Long,
    doc_id: Long,
    sh0: Long,
    sh1: Long
)

/** Bounded per-bucket membership for the 128-bit stream. */
final case class Bucket128State(
    ids: Array[Long],
    h0: Array[Long],
    h1: Array[Long]
)

/** Emitted near-dup pair. */
final case class StreamPair(id_a: Long, id_b: Long, hamming: Int)

/** One exploded band event for the MinHash stream: a document's
  * membership in one (band, bucket), carrying its full signature.
  */
final case class BandEvent(band: Int, bucket: Long, doc_id: Long, sig: Array[Long])

/** Bounded per-(band, bucket) membership: the `maxBucket` lowest ids with
  * their signatures (numHashes longs each).
  */
final case class BandState(ids: Array[Long], sigs: Array[Array[Long]])

/** Emitted MinHash near-dup pair with the estimated Jaccard. */
final case class StreamJaccardPair(id_a: Long, id_b: Long, est_jaccard: Double)

/** Streaming twins of the batch [[graft.operators.Dedup]] paths, for
  * continuous ingest (the batch operators assume the corpus is at rest;
  * a 100 TB/day pipeline also needs dedup AT THE DOOR). SimHash blocking
  * after Charikar (STOC 2002) via the pigeonhole chunking of Manku, Jain,
  * Das Sarma (WWW 2007) — same math as the batch path.
  *
  * - [[exactDedupStream]]: first occurrence per content fingerprint,
  *   composed from built-ins only (`dropDuplicates` over a watermarked
  *   stream — Spark's HDFS-backed dedup state, evicted by watermark, so
  *   state is bounded by the lateness horizon, not stream length).
  * - [[simHashNearDupStream]]: near-dup PAIRS over the stream via
  *   `flatMapGroupsWithState` keyed on the same (chunk, value) pigeonhole
  *   buckets as the batch path. State per bucket is the `maxBucket`
  *   lowest (id, hash) members — bounded like the batch cap, and the same
  *   lowest-matching-chunk rule makes emission exactly-once across
  *   buckets with NO cross-bucket distinct, which a streaming job could
  *   not express anyway (a distinct over all past pairs would be
  *   unbounded state).
  * - [[minHashNearDupStream]]: the banded-LSH twin — same bounded-state,
  *   exactly-once machinery over (band, bucket) keys, verified by the
  *   MinHash Jaccard ESTIMATE (the signature is the only bounded per-doc
  *   payload a stream can carry; see its docstring for the tradeoff).
  */
object StreamingDedup {

  /** First occurrence per exact content fingerprint. Pure composition:
    * md5 fingerprint column + `dropDuplicatesWithinWatermark` on the
    * watermarked stream. A plain `dropDuplicates("fp")` would never evict
    * (the event-time column is not part of the dedup key), so its state
    * grows with DISTINCT content forever; the within-watermark variant
    * expires each fingerprint's state one lateness horizon after it was
    * seen — bounded state, exact within the horizon, which is the usable
    * contract at 100 TB/day (cross-horizon dups are the batch job's job).
    */
  def exactDedupStream(
      stream: DataFrame,
      textCol: String,
      tsCol: String,
      watermark: String = "10 minutes"
  ): DataFrame =
    stream
      .withColumn("fp", TextFunctions.fingerprintMd5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Near-dup pairs over a document stream, SimHash pigeonhole blocking.
    *
    * Same math as [[graft.operators.Dedup.simHashNearDups]]: any pair
    * within Hamming ≤ maxHamming shares at least one of maxHamming+1
    * bit-chunks exactly, so each doc is exploded to its chunk buckets and
    * compared only against its bucket's members. Per-bucket state is the
    * `maxBucket` LOWEST ids (the batch cap rule — deterministic, so the
    * retained membership converges to the batch result no matter how the
    * stream is split into micro-batches). A pair is emitted when its
    * later member arrives, from its LOWEST matching chunk only (both full
    * hashes are in hand — recompute lower-chunk values and require no
    * match), so output needs no downstream dedup.
    *
    * Output mode: append (pairs are immutable facts). State: NoTimeout —
    * membership is evicted by the id cap, not time, mirroring the batch
    * semantics; swap in ProcessingTimeTimeout eviction for corpora where
    * old docs stop mattering.
    */
  def simHashNearDupStream(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 10000
  ): Dataset[StreamPair] = {
    import spark.implicits._
    val keys = Dedup.SimHashKeys.pigeonhole(1, maxHamming)
    val transition =
      updateBucket(maxHamming, keys.pairCap(maxBucket), keys.widths.toArray, keys.offsets.toArray) _
    bucketEvents(keys, docs, textCol, idCol)
      .as[BucketEvent]
      .groupByKey(e => (e.chunk, e.value))
      .flatMapGroupsWithState(
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (key, events: Iterator[BucketEvent], state: GroupState[BucketState]) =>
        val st = state.getOption.getOrElse(BucketState(Array.empty, Array.empty))
        val (ids, Array(hashes), out) = transition(key._1,
          events.map(e => (e.doc_id, Array(e.simhash))), st.ids, Array(st.hashes))
        state.update(BucketState(ids, hashes))
        out
      }
  }

  /** Wide-radius streaming near-dups on the 128-bit fingerprint — the
    * streaming twin of [[graft.operators.Dedup.simHashNearDups128]] and
    * the answer to the radius-10 hazard documented on
    * [[simHashNearDupStream]]'s st01 composition: at h=10 on 64 bits the
    * chunks are 5-6 bits, the stream funnels into ≤64 bucket values per
    * chunk, and the per-bucket serial state transition pays O(members²)
    * in ONE task. The 128-bit fingerprint keeps chunks ~2× wider at the
    * same effective radius (calibrate on the doubled Hamming scale:
    * 64-bit h=10 ≈ h=20 here), spreading state across 2^11-2^12 values
    * per chunk instead. Emission, cap, and replay semantics are
    * identical to [[simHashNearDupStream]]: one state transition
    * ([[updateBucket]]) serves both fingerprint widths.
    */
  def simHashNearDup128Stream(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 20,
      maxBucket: Int = 10000
  ): Dataset[StreamPair] = {
    import spark.implicits._
    val keys = Dedup.SimHashKeys.pigeonhole(2, maxHamming)
    val transition =
      updateBucket(maxHamming, keys.pairCap(maxBucket), keys.widths.toArray, keys.offsets.toArray) _
    bucketEvents(keys, docs, textCol, idCol)
      .as[Bucket128Event]
      .groupByKey(e => (e.chunk, e.value))
      .flatMapGroupsWithState(
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (key, events: Iterator[Bucket128Event], state: GroupState[Bucket128State]) =>
        val st = state.getOption.getOrElse(Bucket128State(Array.empty, Array.empty, Array.empty))
        val (ids, Array(h0, h1), out) = transition(key._1,
          events.map(e => (e.doc_id, Array(e.sh0, e.sh1))), st.ids, Array(st.h0, st.h1))
        state.update(Bucket128State(ids, h0, h1))
        out
      }
  }

  /** `(chunk, value, doc_id, <fingerprint words>)` bucket events, keyed
    * by the batch index family's own scheme ([[Dedup.SimHashKeys]]) so
    * stream and batch block on identical (chunk, value) buckets.
    */
  private def bucketEvents(
      keys: Dedup.SimHashKeys,
      docs: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame =
    keys
      .keyed(docs, col(idCol).cast("long"), col(textCol), spread = false)
      .select(
        Seq(col("_chunk").as("chunk"), col("_val").as("value"), col("_id").as("doc_id")) ++
          keys.hashCols.map(h => col(h).as(h.stripPrefix("_"))): _*)

  /** MinHash near-dup pairs over a document stream — the streaming twin
    * of [[graft.operators.Dedup.minHashNearDups]], with one deliberate
    * difference: verification uses the UNBIASED MinHash estimate of
    * Jaccard (fraction of agreeing signature positions) instead of the
    * batch path's exact shingle Jaccard — exact verification would need
    * every document's shingle set in state (unbounded per-doc payload),
    * while the signature is a fixed `numHashes` longs. At numHashes=32
    * the estimator's σ ≈ 0.09 at J=0.5, so pairs near the threshold can
    * flip relative to batch; raise numHashes for tighter streaming
    * verification.
    *
    * Blocking is identical to batch: banded signature buckets, capped
    * per-bucket membership of the lowest ids, exactly-once emission from
    * the lowest matching band (two members collide in band b iff their
    * signature slice for b is identical — checked directly from the
    * carried signatures, no re-hash needed). Replay-idempotent under the
    * same entered-the-membership rule as [[simHashNearDupStream]].
    */
  def minHashNearDupStream(
      spark: SparkSession,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleSize: Int = 3,
      maxBucket: Int = 10000
  ): Dataset[StreamJaccardPair] = {
    import spark.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucket > 1, "maxBucket must allow at least one pair")
    val r = numHashes / bands
    val sig = Dedup.minHashSignature(col(textCol), numHashes, shingleSize)
    val bandHashes = (0 until bands).map { b =>
      xxhash64(slice(col("_sig"), b * r + 1, r), lit(b))
    }
    val exploded = docs
      .select(col(idCol).cast("long").as("_id"), sig.as("_sig"))
      .select(
        col("_id"),
        col("_sig"),
        posexplode(array(bandHashes: _*)).as(Seq("_band", "_bucket"))
      )
      .select(
        col("_band").as("band"),
        col("_bucket").as("bucket"),
        col("_id").as("doc_id"),
        col("_sig").as("sig")
      )
      .as[BandEvent]
    exploded
      .groupByKey(e => (e.band, e.bucket))
      .flatMapGroupsWithState(
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      )(updateBandBucket(threshold, numHashes, r, maxBucket))
  }

  /** Per-(band, bucket) state transition for the MinHash stream: same
    * entered-the-membership emission rule as [[updateBucket]]; a pair is
    * emitted from its lowest matching band (slices compared directly from
    * the carried signatures) when its estimated Jaccard clears the
    * threshold.
    */
  private[streaming] def updateBandBucket(
      threshold: Double,
      numHashes: Int,
      r: Int,
      maxBucket: Int
  )(
      key: (Int, Long),
      events: Iterator[BandEvent],
      state: GroupState[BandState]
  ): Iterator[StreamJaccardPair] = {
    val band = key._1
    def sliceMatches(b: Int, sa: Array[Long], sb: Array[Long]): Boolean = {
      var i = b * r
      val end = i + r
      while (i < end) {
        if (sa(i) != sb(i)) return false
        i += 1
      }
      true
    }
    def lowestMatchingBandIs(b: Int, sa: Array[Long], sb: Array[Long]): Boolean = {
      var lower = 0
      while (lower < b) {
        if (sliceMatches(lower, sa, sb)) return false
        lower += 1
      }
      true
    }
    val st = state.getOption.getOrElse(BandState(Array.empty, Array.empty))
    val arrivals = events.toArray.sortBy(_.doc_id)
    val out = Array.newBuilder[StreamJaccardPair]
    var ids = st.ids
    var sigs = st.sigs
    arrivals.foreach { e =>
      val p = java.util.Arrays.binarySearch(ids, e.doc_id)
      val pos = if (p >= 0) -1 else -(p + 1)
      if (pos >= 0 && pos < maxBucket) {
        var i = 0
        while (i < ids.length) {
          val other = sigs(i)
          // cheap gate first: a pair colliding in several bands runs this
          // transition in each of them, but only its lowest matching band
          // may emit — skip the full numHashes agreement scan elsewhere.
          // The bucket key is xxhash64 of the band slice, so also verify
          // THIS band's slices really match: a 64-bit hash-collision
          // bucket would otherwise emit a pair that its true lowest
          // matching band emits too (duplicate output).
          if (sliceMatches(band, other, e.sig) &&
              lowestMatchingBandIs(band, other, e.sig)) {
            var agree = 0
            var j = 0
            while (j < numHashes) {
              if (other(j) == e.sig(j)) agree += 1
              j += 1
            }
            val est = agree.toDouble / numHashes
            if (est >= threshold) {
              val (a, b) =
                if (ids(i) < e.doc_id) (ids(i), e.doc_id) else (e.doc_id, ids(i))
              out += StreamJaccardPair(a, b, est)
            }
          }
          i += 1
        }
        val n = math.min(ids.length + 1, maxBucket)
        val newIds = new Array[Long](n)
        val newSigs = new Array[Array[Long]](n)
        System.arraycopy(ids, 0, newIds, 0, pos)
        System.arraycopy(sigs, 0, newSigs, 0, pos)
        newIds(pos) = e.doc_id
        newSigs(pos) = e.sig
        val tail = n - pos - 1
        System.arraycopy(ids, pos, newIds, pos + 1, tail)
        System.arraycopy(sigs, pos, newSigs, pos + 1, tail)
        ids = newIds
        sigs = newSigs
      }
    }
    state.update(BandState(ids, sigs))
    out.result().iterator
  }

  /** Per-bucket state transition of both SimHash streams, over a
    * fingerprint of one or more 64-bit words (`members(w)(i)` is word `w`
    * of member `i`; chunks may straddle a word boundary): verify each
    * arriving member against the retained membership, emit verified
    * pairs whose lowest matching chunk is THIS bucket's chunk, then fold
    * the arrival into the capped membership (keep the `maxBucket` lowest
    * ids). Returns the new ids, the new members and the pairs.
    *
    * Under an ACTIVE cap: an arrival past the cap emits nothing (it
    * leaves no trace in state, so a redelivery of it could not be
    * deduplicated — exactly-once beats the marginal recall), and an
    * arrival that enters the membership is verified against the members
    * it displaces too, so with OUT-OF-ORDER ids the stream can emit a
    * SUPERSET of the batch cap's "pairs among the final lowest ids"
    * (pairs involving later-evicted members cannot be retracted from an
    * append sink). Exactly-once and replay-idempotence always hold;
    * exact batch parity holds when ids arrive ascending or the cap never
    * triggers — size it from the audit so it never triggers (the d03
    * rule).
    */
  private[streaming] def updateBucket(
      maxHamming: Int,
      maxBucket: Int,
      widths: Array[Int],
      offsets: Array[Int]
  )(
      chunk: Int,
      events: Iterator[(Long, Array[Long])],
      stateIds: Array[Long],
      stateMembers: Array[Array[Long]]
  ): (Array[Long], Array[Array[Long]], Iterator[StreamPair]) = {
    val nWords = stateMembers.length
    def chunkVal(c: Int, word: Int => Long): Long = {
      val k = offsets(c) >>> 6
      val b = offsets(c) & 63
      val lo = word(k) >>> b
      (if (b + widths(c) <= 64) lo else lo | (word(k + 1) << (64 - b))) & Dedup.chunkMask(widths(c))
    }
    def lowestMatchingChunkIs(c: Int, a: Int => Long, b: Int => Long): Boolean =
      (0 until c).forall(i => chunkVal(i, a) != chunkVal(i, b))
    // sort arrivals by id: emission and cap eviction are then independent
    // of arrival order within the batch (batch-parity determinism)
    val arrivals = events.toArray.sortBy(_._1)
    val out = Array.newBuilder[StreamPair]
    var ids = stateIds
    var members = stateMembers
    arrivals.foreach { case (id, fp) =>
      // emit ONLY for arrivals that enter the capped membership: a
      // replayed id is already represented (re-verifying would emit its
      // pairs twice — at-least-once sources redeliver), and an arrival
      // past the cap leaves no trace in state, so a redelivery of it
      // could not be recognized either — emitting for it would break
      // exactly-once. This is also precisely the batch cap semantics:
      // pairs exist only among capped members.
      val p = java.util.Arrays.binarySearch(ids, id)
      val pos = if (p >= 0) -1 else -(p + 1)
      if (pos >= 0 && pos < maxBucket) {
        var i = 0
        while (i < ids.length) {
          var ham = 0
          var w = 0
          while (w < nWords) {
            ham += java.lang.Long.bitCount(members(w)(i) ^ fp(w))
            w += 1
          }
          val m = i
          if (ham <= maxHamming && lowestMatchingChunkIs(chunk, members(_)(m), fp(_))) {
            val (a, b) = if (ids(i) < id) (ids(i), id) else (id, ids(i))
            out += StreamPair(a, b, ham)
          }
          i += 1
        }
        // fold into the capped membership: keep the maxBucket lowest ids
        val n = math.min(ids.length + 1, maxBucket)
        def inserted(old: Array[Long], v: Long): Array[Long] = {
          val a = new Array[Long](n)
          System.arraycopy(old, 0, a, 0, pos)
          a(pos) = v
          System.arraycopy(old, pos, a, pos + 1, n - pos - 1)
          a
        }
        members = Array.tabulate(nWords)(w => inserted(members(w), fp(w)))
        ids = inserted(ids, id)
      }
    }
    (ids, members, out.result().iterator)
  }
}

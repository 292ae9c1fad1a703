package graft.operators

/** Overlap INDEPENDENT Spark actions from one fold body (optimization
  * guide §2.6: "Spark's scheduler happily runs several jobs at once
  * inside one application; actions are only sequential because your
  * driver code calls them sequentially").
  *
  * The fold loops are many-small-actions driver-latency bound (JobProbe:
  * ~100 jobs of 10-100 ms each, and as much time in the BETWEEN-job
  * planning gaps as in the jobs). Several of each fold's eager
  * materializations share no inputs — the replay-ledger read, the delta
  * banding/chunking, the delta shingle sets; the per-table appends at
  * the end — yet each pays a full analyze/optimize/codegen/submit round
  * trip serially. Running them on concurrent driver threads overlaps
  * both the planning and the (mostly sub-second, few-task) jobs; at
  * cluster scale the same overlap back-fills executors freed by one
  * job's tail with the sibling job's tasks.
  *
  * Threads are created INSIDE the call so they inherit the caller's
  * `InheritableThreadLocal` Spark properties (job group, description) —
  * the bench's per-query `cancelJobGroupAndFutureJobs` reaches the
  * overlapped jobs, and UI attribution is unchanged.
  */
private[graft] object Overlap {

  /** The thunks' results, in order; a single thunk runs on the calling
    * thread. Every thread is joined before anything is returned or
    * thrown, so no work outlives the call. When a thunk throws, `release`
    * frees what its siblings returned (their checkpoints would otherwise
    * stay pinned for the life of the JVM) and the first failure in thunk
    * order is rethrown.
    */
  def run[A](thunks: Seq[() => A], release: A => Unit): IndexedSeq[A] = {
    def attempt(f: () => A): Either[Throwable, A] =
      try Right(f()) catch { case e: Throwable => Left(e) }
    val rs =
      if (thunks.size == 1) IndexedSeq(attempt(thunks.head))
      else {
        val out = new Array[Either[Throwable, A]](thunks.size)
        val threads = thunks.zipWithIndex.map { case (f, i) =>
          val t = new Thread(() => out(i) = attempt(f), s"graft-overlap-$i")
          t.setDaemon(true)
          t.start()
          t
        }
        threads.foreach(_.join())
        out.toIndexedSeq
      }
    rs.collectFirst { case Left(e) => e }.foreach { e =>
      rs.foreach(_.foreach(release))
      throw e
    }
    rs.collect { case Right(a) => a }
  }
}

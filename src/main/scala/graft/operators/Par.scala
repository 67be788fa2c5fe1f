package graft.operators

import org.apache.spark.sql.DataFrame

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The two kinds of parallelism driver code asks for, each implemented
  * once.
  *
  * '''Input spreading''' ([[spread]]). The benchmark corpus ships each
  * table as ONE parquet file with ONE row group, and parquet splits only at
  * row-group boundaries — so every scan plans a single partition and a
  * mapPartitions kernel (or an interpreted higher-order projection) runs on
  * one core no matter the cluster size. `spread` fans such inputs out to
  * the session's default parallelism; on a realistically-split input (many
  * files / row groups — the 100 TB case) the partition count already meets
  * the target and this is a no-op, so no gratuitous shuffle appears in the
  * scaled-up plan. Only used by operators whose results are insensitive to
  * row order within a partition (row-wise kernels followed by keyed
  * aggregation or a final orderBy on a unique key).
  *
  * '''Overlap''' ([[joinAll]], [[both]]). Driver code runs INDEPENDENT
  * pieces of one query sequentially, so the scheduler cannot overlap them
  * by itself (guide §2.6): per-tier index fits whose collect()s fire at
  * DataFrame construction, or a commit's writes to two independent tables.
  * Every driver-side overlap goes through these two calls, under one
  * contract:
  *   - every branch but the last runs on [[overlapEc]], the last on the
  *     calling thread;
  *   - the call returns only after EVERY branch has finished, whether it
  *     succeeded or failed — so a failed commit or fit never unwinds while
  *     a sibling is still writing, and whatever recovery the caller runs
  *     next cannot race it (only an interrupt of the calling thread, i.e.
  *     a cancelled caller, stops the wait early);
  *   - if any branch failed, the first failure in branch order is thrown,
  *     with each later one attached through `addSuppressed`, so no failure
  *     is lost;
  *   - [[overlapEc]] is the one overlap pool: unbounded cached daemon
  *     threads. Unbounded, so a pool-side branch that overlaps in turn
  *     (and blocks its thread while it waits) can never starve its own
  *     branches of a thread; daemon, so a crashed driver never hangs on
  *     pool shutdown.
  */
private[graft] object Par {

  lazy val overlapEc: ExecutionContext =
    ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-overlap")
        t.setDaemon(true)
        t
      }))

  /** Run `fs` concurrently and return their results in input order, under
    * the overlap contract above.
    */
  def joinAll[A](fs: Seq[() => A]): Seq[A] = {
    // every Throwable is captured (not just NonFatal): a branch must
    // always settle, or the join below would wait forever / unwind early
    def settle(f: () => A): Either[Throwable, A] =
      try Right(f()) catch { case t: Throwable => Left(t) }
    val forked = fs.dropRight(1).map(f => Future(settle(f))(overlapEc))
    val onCaller = fs.lastOption.map(settle)
    val outcomes = forked.map(Await.result(_, Duration.Inf)) ++ onCaller
    outcomes.collect { case Left(t) => t } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => outcomes.collect { case Right(a) => a }
    }
  }

  /** Typed two-branch [[joinAll]]: `a` runs on [[overlapEc]], `b` on the
    * calling thread.
    */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = joinAll(Seq[() => Any](() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  def spread(df: DataFrame): DataFrame = {
    // streaming frames can't be partition-inspected (toRdd is batch-only),
    // and their parallelism is the source's + the query's own shuffles —
    // adding a per-micro-batch repartition is a cost the streaming caller
    // must choose deliberately (as IngestGate's dedup-first ordering does)
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd (InternalRow) reads the partition count off the planned scan
    // without building the public .rdd's deserializer chain + extra
    // mapPartitions layer; no job runs either way, but this keeps the
    // inspection to one physical-planning pass of the bare input
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}

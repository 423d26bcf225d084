package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The one place operators store and release derived relations.
  *
  * Spark has no common-subplan dedup, so a relation read by several
  * consumers (or by every round of a driver-side loop) is stored once:
  * [[apply]] is an eager `localCheckpoint`, which writes plain
  * UnsafeRow blocks at the disk-backed MEMORY_AND_DISK level and cuts
  * the plan back to a leaf. `persist(MEMORY_AND_DISK_SER)` measured
  * 1.5-6x the task cpu on these string-heavy relations
  * (OPTIMIZATION_r22.md #2). Truncated lineage cannot recompute a
  * block lost with its executor; a query rebuilds it on retry.
  *
  * Storage is released through [[release]], and code that stores
  * working relations runs them in a [[scoped]] block, which releases
  * on exit (also on a throw) every relation its result does not read.
  */
private[graft] object Materialize {

  /** Store `df` now (one job) and return a leaf over its blocks. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Drop a relation's storage without blocking: its cache entry, if
    * any, and the block RDD behind a checkpoint leaf (which
    * `Dataset.unpersist` does not touch). Safe on any plan.
    */
  def release(df: DataFrame): Unit = {
    df.unpersist(false)
    df.queryExecution.logical match {
      case l: LogicalRDD => l.rdd.unpersist(false): Unit
      case _ =>
    }
  }

  /** What stores a plan node: a checkpoint leaf's RDD or a cache entry. */
  private val storage: PartialFunction[LogicalPlan, AnyRef] = {
    case l: LogicalRDD => l.rdd
    case m: InMemoryRelation => m.cacheBuilder
  }

  private def storageOf(df: DataFrame): Option[AnyRef] =
    storage.lift(df.queryExecution.withCachedData)

  /** The stored relations `df`'s plan reads, subqueries included. */
  private def reads(df: DataFrame): Set[AnyRef] = {
    val qe = df.queryExecution
    (qe.logical.collectWithSubqueries(storage) ++
      qe.withCachedData.collectWithSubqueries(storage)).toSet
  }

  /** Run `body` with a [[Scope]] that holds its working relations.
    * On a normal exit every held relation that a DataFrame result
    * does not read is released (any other result releases them all);
    * on a throw all of them are.
    */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    val out = try body(s) catch {
      case t: Throwable => s.releaseExcept(Set.empty); throw t
    }
    s.releaseExcept(out match {
      case df: Dataset[_] => reads(df.toDF())
      case _ => Set.empty
    })
    out
  }

  final class Scope private[Materialize] {
    private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()

    /** [[Materialize.apply]] `df` and hold the result. */
    def apply(df: DataFrame): DataFrame = hold(Materialize(df))

    /** Like [[apply]], but `df` is stored by the first job that reads
      * it, so the store costs no job of its own.
      */
    def lazily(df: DataFrame): DataFrame = hold(df.localCheckpoint(false))

    /** Hold an already stored relation (cached, persisted or
      * checkpointed). Safe from several threads.
      */
    def hold(df: DataFrame): DataFrame = {
      held.synchronized(held += df)
      df
    }

    private def releaseWhere(p: DataFrame => Boolean): Unit = {
      val gone = held.synchronized {
        val (out, keep) = held.partition(p)
        held.clear(); held ++= keep
        out.toSeq
      }
      gone.foreach(release)
    }

    private[Materialize] def releaseExcept(keep: Set[AnyRef]): Unit =
      releaseWhere(df => !storageOf(df).exists(keep))

    /** The driver-side round loop. `step(state, round)` returns the
      * next state and whether to run another round; it stores its
      * relations through this scope. After each round the relations
      * of the superseded state, and those the round held, that the
      * new state (as listed by `frames`) does not read are released;
      * the returned state stays held until the scope exits. A loop
      * still asking for rounds after `cap` stops with one stderr line.
      * Returns the final state and the number of rounds run.
      */
    def rounds[S](name: String, init: S, cap: Int)(frames: S => Seq[DataFrame])(
        step: (S, Int) => (S, Boolean)): (S, Int) = {
      var state = init
      var more = cap > 0
      var round = 0
      while (more && round < cap) {
        val before = held.synchronized(held.toSet)
        val old = frames(state).toSet
        val (next, again) = step(state, round)
        val live = frames(next).flatMap(reads).toSet
        releaseWhere(df => (old(df) || !before(df)) &&
          !storageOf(df).exists(live))
        state = next
        more = again
        round += 1
      }
      if (more) System.err.println(s"[$name] round cap hit after $round rounds")
      (state, round)
    }
  }
}

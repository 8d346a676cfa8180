package graft.util

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.graft.RddShim
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of materialized frames, as [[Scratch]] owns scratch
  * dirs: every frame a query computes once and reads again goes through
  * here, and nothing else checkpoints, caches, persists or unpersists.
  *
  *  - [[apply]] (`Hold(df)`) computes `df` now and keeps its rows in
  *    the block manager: an eager `localCheckpoint`. The held frame is
  *    a `LogicalRDD` over those rows, so it also cuts the lineage (each
  *    round of an iterative operator plans over the rows of the last
  *    one, not over every earlier round) and keeps `df`'s output
  *    partitioning. The hold is registered to the innermost [[scope]]
  *    open on this thread.
  *  - [[scope]] releases every hold made inside it when its block
  *    returns or throws. The entrypoints open one per query, around its
  *    build and its consumption (Bench's timed run, Verify's write,
  *    each Main pack task, DumpPlans, SkewProbe), and
  *    `StreamOps.runBounded` opens one around each trigger body.
  *  - A hold made with no scope open is left to Spark's ContextCleaner,
  *    which unpersists its rows once the held frame is garbage
  *    collected.
  *  - [[pin]] keeps a frame across queries on purpose, under one of
  *    [[pinNames]]; pins die with their SparkContext.
  *
  * The barrier policy, for every hold in this repo:
  *  - Hold a frame that is read more than once (several branches of one
  *    plan, or the driver and then the plan) or that an iterative loop
  *    feeds back into itself. Never hold a frame that is read once.
  *  - The rows are executor-local and not replicated: an executor lost
  *    mid-query fails the job instead of recomputing, as there is no
  *    lineage to recompute from. That is acceptable for an intra-query
  *    barrier; a cluster deployment that cannot retry a query would use
  *    reliable checkpoint dirs.
  *  - A scope must not close before the last reader of its holds has
  *    run: releasing a hold drops the only copy of its rows. So a scope
  *    covers the whole consumption, and a frame that must outlive its
  *    query is a [[pin]].
  *  - Holds are row-based. A lazy `cache()` is not a barrier (it keeps
  *    the lineage), so it is not offered.
  *
  * Threads: the scope stack is per thread. A pool thread that builds
  * part of a query holds into the query's scope by running its work
  * inside [[within]] with the caller's [[current]] scope. */
object Hold {

  /** The frames kept across queries on purpose, by the name before the
    * first `|` of their [[pin]] key. Each keeps a harness or input stage
    * out of a timed operator body:
    *  - `clusters`: the cluster stage q120, q279, q291 and q304 read, as
    *    a real pipeline reads the clustering stage's output table;
    *  - `png`, `pngpair`, `wav`, `gif`: the synthetic media of q111,
    *    q200, q112 and q115, whose encode side is gate harness (the
    *    oracle checks decoded stats against closed forms), so the
    *    queries time the decode path;
    *  - `bm25idx0`, `bm25idx`: the BM25 indexes q159 maintains and q140
    *    probes. */
  val pinNames: Set[String] =
    Set("clusters", "png", "pngpair", "wav", "gif", "bm25idx0", "bm25idx")

  /** The holds of one open [[scope]]. */
  final class Scope private[Hold] () {
    private val held = new ConcurrentLinkedQueue[RDD[_]]()
    private[Hold] def add(rdd: RDD[_]): Unit = { held.add(rdd); () }
    private[Hold] def release(): Unit = held.forEach(r => RddShim.release(r.sparkContext, r.id))
  }

  private val open = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** `df`, computed now and held until the innermost open scope closes. */
  def apply(df: DataFrame): DataFrame = {
    val held = checkpoint(df)
    current.foreach(_.add(rddOf(held)))
    held
  }

  private def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

  private def rddOf(held: DataFrame): RDD[_] = held.queryExecution.logical match {
    case r: LogicalRDD => r.rdd
    case p => throw new IllegalStateException(s"a held frame is not a LogicalRDD: ${p.nodeName}")
  }

  /** Runs `body` in a new scope and releases every hold made in it when
    * `body` returns or throws. */
  def scope[T](body: => T): T = {
    val s = new Scope
    val outer = open.get
    open.set(s :: outer)
    try body finally { open.set(outer); s.release() }
  }

  /** The innermost scope open on this thread, to hand to [[within]]. */
  def current: Option[Scope] = open.get.headOption

  /** Runs `body` with `scope` as this thread's innermost scope, so a
    * pool thread holds into the scope of the query that started it. */
  def within[T](scope: Option[Scope])(body: => T): T = scope match {
    case None => body
    case Some(s) =>
      val outer = open.get
      open.set(s :: outer)
      try body finally open.set(outer)
  }

  private final class Slot { @volatile var held: DataFrame = _ }
  private val pins = new ConcurrentHashMap[SparkContext, ConcurrentHashMap[String, Slot]]()

  private def pinsOf(sc: SparkContext): ConcurrentHashMap[String, Slot] =
    pins.computeIfAbsent(sc, _ => {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
          pins.remove(sc); ()
        }
      })
      new ConcurrentHashMap[String, Slot]()
    })

  /** The frame pinned under `key` on `spark`'s context, made by `make`
    * and held on the first call. Keys are `"<name>|<sf dir>"`, and the
    * name must be one of [[pinNames]]. `make` runs in its own scope, so
    * what it holds on the way is released once the pin is computed; it
    * runs under a per-key lock, never inside the shared map's update. */
  def pin(spark: SparkSession, key: String)(make: => DataFrame): DataFrame = {
    val name = key.takeWhile(_ != '|')
    require(pinNames(name), s"'$name' is not a pin name: ${pinNames.mkString(", ")}")
    val slot = pinsOf(spark.sparkContext).computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      if (slot.held == null) slot.held = scope(checkpoint(make))
      slot.held
    }
  }

  /** Ids of the RDDs that `sc`'s pins hold. */
  def pinned(sc: SparkContext): Set[Int] =
    Option(pins.get(sc)).fold(Set.empty[Int]) { m =>
      val ids = Set.newBuilder[Int]
      m.values.forEach(s => Option(s.held).foreach(h => ids += rddOf(h).id))
      ids.result()
    }

  /** Ids of the RDDs persisted on `sc` that no pin holds. */
  def loose(sc: SparkContext): Set[Int] = sc.getPersistentRDDs.keySet.toSet -- pinned(sc)
}

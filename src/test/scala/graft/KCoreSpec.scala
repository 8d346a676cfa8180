package graft

import scala.util.Random

import graft.operators.KCore

class KCoreSpec extends SparkTestBase {
  import spark.implicits._

  /** Plain-Scala replay of `KCore.unrolledSql`'s rounds: restrict the
    * edges to both ends alive, count by src, keep deg ≥ k. Returns the
    * last round's survivors with their degrees, and how many nodes each
    * round dropped. */
  def replay(edges: Seq[(Long, Long)], k: Int, rounds: Int): (Map[Long, Long], Seq[Int]) = {
    var alive = edges.map(_._1).toSet
    var deg = Map.empty[Long, Long]
    val dropped = (1 to rounds).map { _ =>
      deg = edges.filter { case (s, t) => alive(s) && alive(t) }
        .groupBy(_._1).map { case (id, es) => id -> es.size.toLong }
      val next = deg.filter(_._2 >= k).keySet
      val n = alive.size - next.size
      alive = next
      n
    }
    (deg.filter(_._2 >= k), dropped)
  }

  /** A random symmetric multigraph, as (src, dst) with both directions
    * of every edge: a random core with self-loops and duplicate edges,
    * a hub, a star whose leaves all die at k ≥ 2 (so its centre loses
    * every neighbour), and a chain that peels one node per round. */
  def graph(rnd: Random): Seq[(Long, Long)] = {
    val n = 12 + rnd.nextInt(12)
    val core = Seq.fill(n * 2 + rnd.nextInt(n)) {
      val a = rnd.nextInt(n).toLong
      (a, if (rnd.nextInt(10) == 0) a else rnd.nextInt(n).toLong)
    }
    val dups = Seq.fill(rnd.nextInt(6))(core(rnd.nextInt(core.size)))
    val hub = 100L
    val hubEdges = (0 until n by 1 + rnd.nextInt(3)).map(i => (hub, i.toLong)) ++
      (1 to 1 + rnd.nextInt(4)).map(i => (hub, 200L + i))
    val star = 300L
    val starEdges = (1 to 2 + rnd.nextInt(5)).map(i => (star, star + i))
    val chain = (400L until 400L + 3 + rnd.nextInt(4)).map(i => (i, i + 1)) :+
      (400L, rnd.nextInt(n).toLong)
    val undirected = core ++ dups ++ hubEdges ++ starEdges ++ chain
    undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }
  }

  test("frontier-delta peeling equals the unrolled replay on random multigraphs") {
    val rnd = new Random(180)
    val cases = for (k <- Seq(1, 2, 3, 5); rounds <- 1 to 4; _ <- 1 to 2)
      yield (k, rounds, graph(rnd))
    val peeledLate = cases.map { case (k, rounds, edges) =>
      val (want, dropped) = replay(edges, k, rounds)
      val got = KCore.run(edges.toDF("src", "dst"), k, rounds)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"k=$k rounds=$rounds edges=$edges")
      dropped.drop(2).sum
    }
    // the fixtures reach the delta path: some cases still drop nodes in
    // round 3 or 4, after earlier rounds already did
    assert(peeledLate.count(_ > 0) >= 4, s"late peels per case: $peeledLate")
  }

  test("a survivor whose every neighbour dies drops out in the next round") {
    // star centre 1 with leaves 2..4 plus a triangle (5, 6, 7): at k=2
    // the leaves die in round 1, the centre has degree 0 in round 2
    val undirected = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L), (6L, 7L), (7L, 5L))
    val edges = undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val got = KCore.run(edges.toDF("src", "dst"), k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 2L, 6L -> 2L, 7L -> 2L))
    assert(got == replay(edges, 2, 2)._1)
  }

  test("k below 1 is rejected") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    intercept[IllegalArgumentException](KCore.run(edges, k = 0, rounds = 2))
  }
}

package graft

import java.io.{PrintWriter, StringWriter}
import java.nio.file.Paths
import java.util.spi.ToolProvider

import javax.xml.parsers.DocumentBuilderFactory
import org.scalatest.funsuite.AnyFunSuite

/** Every top-level class and object in `src/main` is reachable from a
  * shipped entrypoint, so none is checked only by its own spec. The
  * class graph comes from the JDK's `jdeps`, run in this JVM over the
  * compiled `graft` classes; a class counts by its top-level name
  * (`graft.x.Y$Inner$` is `graft.x.Y`). */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private val entrypoints = Set("graft.Main", "graft.Verify", "graft.Bench",
    "graft.tools.DumpPlans", "graft.tools.ScaleData", "graft.tools.SkewProbe",
    // named only in a string: GraftSession's spark.sql.extensions
    "graft.GraftExtensions")

  /** The graft classes that `core-site.xml` names for Hadoop to load. */
  private def hadoopConfClasses: Set[String] = {
    val doc = DocumentBuilderFactory.newInstance.newDocumentBuilder
      .parse(Paths.get("src/main/resources/core-site.xml").toFile)
    val values = doc.getElementsByTagName("value")
    (0 until values.getLength).map(values.item(_).getTextContent.trim)
      .filter(_.startsWith("graft.")).toSet
  }

  /** (from, to) for every dependency between graft classes, by
    * top-level name, and the set of all graft top-level names. */
  private def classGraph: (Seq[(String, String)], Set[String]) = {
    val classes = Paths.get(classOf[GraftExtensions].getProtectionDomain.getCodeSource.getLocation.toURI)
    val jdeps = ToolProvider.findFirst("jdeps").orElseThrow()
    val out = new StringWriter
    val err = new StringWriter
    val rc = jdeps.run(new PrintWriter(out), new PrintWriter(err),
      "--multi-release", "17", "-verbose:class", "-filter:none", classes.toString)
    assert(rc == 0, s"jdeps failed: $err")
    val dep = """\s+(graft\.\S+)\s+->\s+(\S+)\s+.*""".r
    val pairs = out.toString.linesIterator.collect {
      case dep(from, to) => (topLevel(from), to)
    }.toSeq
    (pairs.collect { case (from, to) if to.startsWith("graft.") => (from, topLevel(to)) },
      pairs.map(_._1).toSet)
  }

  test("every top-level class in src/main is reachable from an entrypoint") {
    val roots = entrypoints ++ hadoopConfClasses
    val (edges, nodes) = classGraph
    assert(hadoopConfClasses.nonEmpty)
    assert(roots.subsetOf(nodes), s"roots with no class: ${roots -- nodes}")
    val orphans = unreachable(edges, nodes, roots)
    assert(orphans.isEmpty, s"reached from no entrypoint: ${orphans.toSeq.sorted.mkString(", ")}")
  }

  test("the walk reports a class that no root reaches") {
    val edges = Seq("a.Main" -> "a.Lib", "a.Lib" -> "a.Util", "a.Orphan" -> "a.Util",
      "a.Cycle1" -> "a.Cycle2", "a.Cycle2" -> "a.Cycle1")
    val nodes = Set("a.Main", "a.Lib", "a.Util", "a.Orphan", "a.Cycle1", "a.Cycle2", "a.Alone")
    assert(unreachable(edges, nodes, Set("a.Main")) ==
      Set("a.Orphan", "a.Cycle1", "a.Cycle2", "a.Alone"))
    assert(unreachable(edges, nodes, nodes).isEmpty)
  }

  test("a class counts by its top-level name") {
    assert(topLevel("graft.dag.JinjaLite$VNone$") == "graft.dag.JinjaLite")
    assert(topLevel("graft.Main$") == "graft.Main")
    assert(topLevel("graft.Main") == "graft.Main")
  }
}

object ReachabilitySpec {
  def topLevel(cls: String): String = cls.takeWhile(_ != '$')

  /** The nodes that no path of `edges` from `roots` reaches. */
  def unreachable(edges: Seq[(String, String)], nodes: Set[String],
      roots: Set[String]): Set[String] = {
    val next = edges.groupMap(_._1)(_._2)
    @annotation.tailrec
    def walk(frontier: Set[String], seen: Set[String]): Set[String] =
      if (frontier.isEmpty) seen
      else {
        val reached = frontier.flatMap(next.getOrElse(_, Nil)) -- seen
        walk(reached, seen ++ reached)
      }
    nodes -- walk(roots, roots)
  }
}

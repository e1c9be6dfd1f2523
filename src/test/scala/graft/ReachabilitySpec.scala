package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every main class runs from an entry point or is a listed pending
  * face. A `jdeps` class-dependency walk over the compiled main classes
  * starts at the roots below and must reach every other top-level class;
  * code that only its own spec calls fails here, so it is wired into an
  * entry point or deleted.
  *
  * `-filter:none` keeps the edges within a package (the default
  * `-filter:package` drops them, and then same-package callees look
  * unreached). Nested, companion and anonymous classes (`Outer$...`) fold
  * into their top-level class.
  */
class ReachabilitySpec extends AnyFunSuite {
  /** The roots, each with the reason it runs. */
  private val roots = Seq(
    "graft.Main" -> "the consumer daemon's main",
    "graft.Bench" -> "the bench main: every registered query, timed",
    "graft.Verify" -> "the correctness main: every registered query to parquet",
    "graft.Profile" -> "the per-key action profile main",
    "graft.ProbeAB" -> "the interleaved A/B main",
    "graft.ScaleData" -> "the scaled test-data main",
    "graft.SparkEntry" -> "the query registry every driver runs",
    "graft.GraftExtensions" -> "spark.sql.extensions loads it by name",
    "graft.streaming.CdcStreaming" -> "perfbench imports it",
    "graft.streaming.Consumer" -> "perfbench imports it",
    "graft.sources.CdcSources" -> "perfbench imports it",
    "graft.sources.KafkaShapedSource" -> "perfbench imports it")

  /** Faces no root reaches yet, kept with their specs until each is run
    * from the consumer's batch driver or retired (ROADMAP item 7). The
    * walk must leave exactly these unreached: a class that newly falls
    * off the roots fails, and so does a listed face once a root reaches
    * it, so the list only shrinks.
    */
  private val pendingFaces = Set("graft.streaming.StreamingBudget")

  private def topLevel(cls: String): String = cls.takeWhile(_ != '$')

  test("every main top-level class is reachable from an entry point") {
    val classes = Paths.get(
      graft.Main.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val jdeps = Paths.get(sys.props("java.home"), "bin", "jdeps")
    assert(Files.isExecutable(jdeps), s"no jdeps at $jdeps: the walk needs a JDK")

    val all = Using.resource(Files.walk(classes))(_.iterator.asScala
      .map(p => classes.relativize(p).toString)
      .filter(_.endsWith(".class"))
      .map(p => topLevel(p.stripSuffix(".class").replace(File.separatorChar, '.')))
      .toSet)
    val missing = roots.map(_._1).filterNot(all)
    if (missing.nonEmpty) fail(s"roots that are not main classes: ${missing.mkString(", ")}")

    val out = Seq(jdeps.toString, "-verbose:class", "-filter:none", classes.toString).!!
    val edges = out.linesIterator.map(_.trim.split("\\s+")).collect {
      case Array(from, "->", to, _*) if all(topLevel(to)) => topLevel(from) -> topLevel(to)
    }.toSeq.groupMap(_._1)(_._2)

    @annotation.tailrec
    def walk(reached: Set[String], frontier: Set[String]): Set[String] =
      if (frontier.isEmpty) reached
      else {
        val next = frontier.flatMap(edges.getOrElse(_, Nil)) -- reached
        walk(reached ++ next, next)
      }
    val start = roots.map(_._1).toSet
    val unreached = all -- walk(start, start)
    val stray = (unreached -- pendingFaces).toSeq.sorted
    if (stray.nonEmpty) fail(
      s"${stray.size} of ${all.size} main top-level classes are reached by no " +
        "entry point; run them from one or delete them: " + stray.mkString(", "))
    val wired = (pendingFaces -- unreached).toSeq.sorted
    if (wired.nonEmpty) fail(
      "pending faces that are gone or now reached; drop them from the list: " +
        wired.mkString(", "))
  }
}

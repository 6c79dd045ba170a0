package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A census of `src/main`, read as text (no Spark): one session factory,
  * and a listed set of env-var and system-property knobs. Adding a knob
  * means adding its name here. */
class SourceCensusSpec extends AnyFunSuite {
  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .sortBy(_.toString).map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    assert(sources.nonEmpty)
    val users = sources.collect {
      case (p, text) if """SparkSession\s*\.\s*builder""".r.findFirstIn(text).nonEmpty =>
        p.getFileName.toString
    }
    assert(users === Seq("GraftSession.scala"))
  }

  test("src/main reads exactly the listed env vars and system properties") {
    val knobs = Set(
      "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_REPS",
      "SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_BENCH_ONLY",
      "SPARK_GRAFT_BENCH_FILE", "SPARK_MASTER",
      "graft.warehouse", "graft.ann.warehouse")
    val access = """sys\s*\.\s*(?:env|props)\b|System\s*\.\s*(?:getenv|getProperty)\b""".r
    val named = """(?:sys\s*\.\s*(?:env|props)(?:\s*\.\s*(?:get|getOrElse|contains|apply))?|System\s*\.\s*(?:getenv|getProperty))\s*\(\s*"([^"]+)"""".r
    val found = for {
      (p, text) <- sources
      m <- access.findAllMatchIn(text)
    } yield named.findPrefixMatchOf(text.substring(m.start)) match {
      case Some(n) => n.group(1)
      case None =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        fail(s"$p:$line reads the environment without a literal name")
    }
    assert(found.toSet === knobs)
  }
}

package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Cache residency has one owner: `graft.util.Residency`. Every raw
  * persist, release, checkpoint or lineage cut elsewhere in the program
  * sources fails this spec, so a call site cannot drift back to the
  * hand-managed discipline the scope replaced.
  *
  * `Scope.persist(df)` is the sanctioned form, so a Dataset/RDD persist is
  * recognized by its argument: none (`.persist()`), or a storage level —
  * and `StorageLevel` itself may not appear outside Residency, so no
  * level-taking persist can be written anywhere else. Comments are
  * stripped before matching (scaladoc may name the caller's
  * `unpersist()` obligation). */
class SourceDisciplineSpec extends AnyFunSuite {

  private val owner = Paths.get("graft", "util", "Residency.scala")

  private val forbidden: Seq[(String, scala.util.matching.Regex)] = Seq(
    "Dataset/RDD .persist(" -> """\.persist\(\s*(\)|StorageLevel|org\.apache\.spark\.storage)""".r,
    "StorageLevel" -> """\bStorageLevel\b""".r,
    ".cache()" -> """\.cache\(\s*\)""".r,
    "unpersist(" -> """\bunpersist\(""".r,
    "localCheckpoint(" -> """\blocalCheckpoint\(""".r,
    ".checkpoint(" -> """\.checkpoint\(""".r,
    "createDataFrame(<x>.rdd" -> """createDataFrame\(\s*[\w.]+\.rdd\b""".r)

  /** Files allowed a listed form, each with its reason. Empty. */
  private val allowlist: Map[(Path, String), String] = Map.empty

  /** `src` with comments blanked; block comments keep their line breaks
    * so reported line numbers stay true. */
  private def code(src: String): String =
    "(?s)/\\*.*?\\*/".r.replaceAllIn(src, m => "\n" * m.matched.count(_ == '\n'))
      .replaceAll("//[^\n]*", "")

  private def violations(rel: Path, src: String): Seq[String] =
    code(src).linesIterator.zipWithIndex.flatMap { case (line, i) =>
      forbidden.collect {
        case (name, re) if re.findFirstIn(line).nonEmpty &&
            !allowlist.contains((rel, name)) => s"$rel:${i + 1}: $name"
      }
    }.toSeq

  test("residency forms appear in src/main/scala only inside util/Residency.scala") {
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(p => root.relativize(p) == owner), "Residency.scala not found")
    val found = files.filter(p => root.relativize(p) != owner).flatMap { p =>
      violations(root.relativize(p), new String(Files.readAllBytes(p), "UTF-8"))
    }
    assert(found.isEmpty, found.mkString("raw residency calls outside Residency:\n", "\n", ""))
    assert(allowlist.values.forall(_.trim.nonEmpty), "every allowlist entry needs a reason")
  }

  test("each forbidden form is detected; scope calls and comments are not") {
    val rel = Paths.get("X.scala")
    val raw = Seq(
      "df.persist()",
      "df.persist(StorageLevel.MEMORY_AND_DISK)",
      "df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)",
      "val lvl = StorageLevel.MEMORY_ONLY",
      "df.cache()",
      "df.unpersist(blocking = true)",
      "df.localCheckpoint(true)",
      "df.checkpoint(eager = true)",
      "rdd.checkpoint()",
      "spark.createDataFrame(d.rdd, d.schema)")
    raw.foreach(l => assert(violations(rel, l).nonEmpty, s"missed: $l"))
    val sanctioned = Seq(
      "val d = s.persist(df.select(col(\"id\")))",
      "Residency.pin(df, reliableCheckpoint)",
      "spark.createDataFrame(rdd, outSchema)",
      "// callers should `unpersist()` the result",
      "/** the caller's `unpersist()` obligation,\n  * df.localCheckpoint(true) */")
    sanctioned.foreach(l => assert(violations(rel, l).isEmpty, s"false positive: $l"))
    assert(violations(rel, "/** a\n  * b */\nx.unpersist()") === Seq("X.scala:3: unpersist("))
  }
}

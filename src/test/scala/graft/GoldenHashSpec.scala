package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Pins the results of the queries that share persisted intermediates
  * (two-phase enrichment, triangle counts, PQ/IVFADC code indexes, prefix
  * containment) to order-insensitive row hashes at sf0.01, and checks them
  * at two shuffle-partition counts so a result that depends on partitioning
  * fails here. Canonical form, as in `tools/check_correctness.py`: columns
  * sorted by name, cells rendered canonically, rows sorted.
  *
  * Regenerate deliberately with
  *   GRAFT_GOLDEN_REGEN=true sbt "testOnly graft.GoldenHashSpec"
  * and say in CHANGES.md why the pinned results moved. */
class GoldenHashSpec extends SparkSpec {
  val golden = Paths.get("src/test/resources/golden/hashes_sf0.01.json")
  val names = Seq("j02_twophase_enrich", "j02b_normalized_enrich", "g2_triangles",
    "s8_knn_pq", "s9_knn_ivfpq", "s9b_knn_ivfpq_2level", "s9c_knn_ivfpq_auto",
    "d11b_containment_prefix")

  /** The pinned queries return longs, ints, strings and doubles only. */
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case other => other.toString
  }

  /** (row count, sha256 over the sorted canonical rows). */
  def rowHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(c => col(s"`$c`")): _*).collect()
      .map(r => cols.indices.map(i => canon(r.get(i))).mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def hashesAt(partitions: Int): Map[String, (Long, String)] = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try names.map { n =>
      try n -> rowHash(SparkEntry.queries(n)(spark, sf001))
      finally graft.util.Caches.releaseAll()
    }.toMap
    finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  def readGolden(): Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(golden.toFile)
    names.map { n =>
      val q = root.get("queries").get(n)
      assert(q != null, s"$n missing from $golden")
      n -> ((q.get("rows").asLong, q.get("sha256").asText))
    }.toMap
  }

  def writeGolden(got: Map[String, (Long, String)]): Unit = {
    import scala.sys.process._
    val commit = "git rev-parse HEAD".!!.trim
    val body = names.map { n =>
      val (rows, h) = got(n)
      s"""    "$n": {"rows": $rows, "sha256": "$h"}"""
    }.mkString(",\n")
    Files.createDirectories(golden.getParent)
    Files.write(golden, (s"""{\n  "captured_at": "$commit",\n  "scale": "sf0.01",\n""" +
      s"""  "queries": {\n$body\n  }\n}\n""").getBytes("UTF-8"))
  }

  def check(partitions: Int): Unit = {
    val got = hashesAt(partitions)
    if (partitions == 4 && sys.env.get("GRAFT_GOLDEN_REGEN").contains("true")) {
      writeGolden(got)
      fail(s"golden regenerated at $golden — rerun without regen to verify")
    }
    assert(Files.exists(golden), s"missing golden fixture $golden")
    val want = readGolden()
    val diffs = names.filter(n => got(n) != want(n))
      .map(n => s"$n: got ${got(n)}, pinned ${want(n)}")
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("pinned query results hold at 4 shuffle partitions") { check(4) }
  test("pinned query results hold at 7 shuffle partitions") { check(7) }
}

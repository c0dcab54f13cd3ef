package graft.api

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{GraftSqlShims, SparkSession}
import graft.{GraftSession, SharedSpark}
import graft.util.{Checkpoints, PlanCapture}

/** End-to-end funnel semantics of [[CurationPipeline.curate]] on a
  * hand-built corpus where every drop reason has a known positive, plus
  * the precedence rule (first failing stage names the drop). */
class CurationPipelineSpec extends AnyFunSuite with SharedSpark {

  // long English filler: high stopword ratio, ~50 words → quality passes
  private val good =
    "the cat sat on a mat and the dog lay in the sun while the birds " +
      "sang of summer and the wind moved to the north over a quiet field " +
      "where the farmer walked to his barn and the day went on in peace"

  // every funnel stage has a known positive
  private def funnelCorpus(s: SparkSession) = {
    import s.implicits._
    (Seq(
      (1L, good),                                  // keep
      (2L, good),                                  // exact dup of 1
      (3L, good.replace("quiet field", "green field")), // near dup of 1
      (4L, "answer key alpha beta gamma delta epsilon zeta eta theta"), // contaminated
      (5L, "le chat le chien le jour et la nuit et le vent est la"), // French
      // detected as English (stopword hit) but short + symbol-heavy →
      // fails quality, not language
      (6L, "the $$ ## @@ :: ;; !! ^^ && **")
    ).toDF("id", "text"),
      Seq((100L, "key alpha beta gamma delta epsilon zeta eta")).toDF("id", "text"))
  }

  test("each funnel stage drops its known positive; keepers survive") {
    val (corpus, bench) = funnelCorpus(spark)
    val got = CurationPipeline.curate(corpus, bench, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[String]("drop_reason"), r.getAs[Boolean]("keep")))).toMap

    assert(got(1L) === ((null, true)))
    assert(got(2L) === (("exact_duplicate", false)))
    assert(got(3L) === (("near_duplicate", false)))
    assert(got(4L) === (("contaminated", false)))
    assert(got(5L) === (("wrong_language", false)))
    assert(got(6L) === (("low_quality", false)))
  }

  test("precedence: an exact dup that is also contaminated reports exact_duplicate") {
    import spark.implicits._
    val contaminated = "answer key alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, contaminated), (2L, contaminated), (3L, good)).toDF("id", "text")
    val bench = Seq((100L, "key alpha beta gamma delta epsilon zeta eta"))
      .toDF("id", "text")
    val got = CurationPipeline.curate(corpus, bench, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("drop_reason")).toMap
    // doc 1 is the exact-dup canonical → survives dedup, then drops as
    // contaminated; doc 2 drops at the earlier exact stage
    assert(got(1L) === "contaminated")
    assert(got(2L) === "exact_duplicate")
    assert(got(3L) === null)
  }

  test("near-dup cluster members share cluster_id; lang=null disables the filter") {
    import spark.implicits._
    // long French: passes the (English-centric) quality score on length and
    // word-length alone, so with lang=null nothing drops it
    val french = "le grand chateau ancien se trouve pres de la riviere et " +
      "les arbres verts entourent le jardin magnifique ou les oiseaux " +
      "chantent pendant la saison chaude et la lumiere douce tombe sur " +
      "les pierres anciennes du vieux village tranquille"
    val corpus = Seq(
      (1L, good), (2L, good.replace("quiet field", "green field")),
      (5L, french))
      .toDF("id", "text")
    val bench = Seq((100L, "unrelated benchmark words only")).toDF("id", "text")
    val cfg = CurationPipeline.Config(lang = null)
    val rows = CurationPipeline.curate(corpus, bench, "id", "text", cfg)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getAs[String]("drop_reason")))).toMap
    assert(rows(1L) === ((1L, null)))          // cluster canonical kept
    assert(rows(2L)._1 === 1L)                 // same cluster as doc 1
    assert(rows(2L)._2 === "near_duplicate")
    assert(rows(5L) === ((5L, null)))          // French kept when lang=null
  }

  test("repeated curate calls free their checkpoints; the cache manager stays empty") {
    // drop what the suite's earlier tests left persisted
    GraftSession.reset(spark)
    val (corpus, bench) = funnelCorpus(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val outs = (1 to 3).map { _ =>
      val out = CurationPipeline.curate(corpus, bench, "id", "text")
      assert(out.collect().length === 6)
      out
    }
    // clearCache() does not release local checkpoints, so anything curate
    // leaves behind would pile up here; only each returned frame's own
    // checkpoint may remain
    val grown = sc.getPersistentRDDs.keySet -- before
    val own = outs.flatMap(Checkpoints.rdds).map(_.id).toSet
    assert(grown.subsetOf(own), s"leaked RDDs ${grown -- own}")
    assert(grown.size <= outs.size)
    assert(spark.sharedState.cacheManager.isEmpty)
    // and freeing the returned frames leaves nothing at all
    outs.foreach(Checkpoints.free)
    assert(sc.getPersistentRDDs.keySet === before,
      s"persisted after free: ${sc.getPersistentRDDs.keySet -- before}")
  }

  test("no curate plan description exceeds 64 KB") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val (corpus, bench) = funnelCorpus(spark)
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sizes.add(s.description -> s.physicalPlanDescription.length)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          sizes.add(s"AQE update of ${u.executionId}" -> u.physicalPlanDescription.length)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      CurationPipeline.curate(corpus, bench, "id", "text").collect()
      GraftSqlShims.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(!sizes.isEmpty, "listener events missing")
    val (what, largest) = sizes.asScala.maxBy(_._2)
    // the checkpointed stages keep every plan small; re-embedding cached
    // stage plans printed ~700 KB per AQE update of the pair execution
    assert(largest < 64 * 1024, s"$what printed a $largest-byte plan")
  }

  test("one curate call needs at most 64 codegen-cache entries") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val (corpus, bench) = funnelCorpus(spark)
    // Spark's codegen cache is keyed by (thread context classloader,
    // code); CodeGenerator logs each compiled class's code at DEBUG on the
    // compiling thread. The distinct keys of one call are its working set,
    // which must fit the cache's 100 entries (4 LRU segments of 25) for a
    // repeated call to compile nothing. Counting distinct keys instead of
    // compiles keeps the test independent of which segment a key lands in,
    // which follows the classloader's identity hash.
    val keys = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()
    val appender = new AbstractAppender("codegen-keys", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (e.getLevel == Level.DEBUG)
        keys.add(System.identityHashCode(Thread.currentThread.getContextClassLoader) ->
          e.getMessage.getFormattedMessage)
    }
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = new LoggerConfig(name, Level.DEBUG, false)
    logger.addAppender(appender, Level.DEBUG, null)
    appender.start()
    // a key already cached by an earlier test would not compile again
    val cache = { val f = Class.forName(name + "$").getDeclaredField("cache")
      f.setAccessible(true); f.get(null) }
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
    try {
      val out = CurationPipeline.curate(corpus, bench, "id", "text")
      assert(out.collect().length === 6)
      Checkpoints.free(out)
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(keys.size > 0, "no generated code was logged")
    assert(keys.size <= 64, s"${keys.size} codegen-cache entries for one call")
  }

  test("one curate call computes the text signals with one kernel, no lambda or regex") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, Expression, RegExpExtractAll}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val (corpus, bench) = funnelCorpus(spark)
    val (_, plans) = PlanCapture(spark) {
      val out = CurationPipeline.curate(corpus, bench, "id", "text")
      assert(out.collect().length === 6)
      Checkpoints.free(out)
    }
    // every expression of every executed plan, into AQE's query stages
    val walk = new AdaptiveSparkPlanHelper {}
    val exprs: Seq[Expression] = plans.flatMap(e =>
      walk.flatMap(e.qe.executedPlan)(_.expressions.flatMap(_.collect { case x => x })))
    assert(plans.nonEmpty, "no execution was observed")
    assert(exprs.count(_.isInstanceOf[graft.functions.TextSignals]) === 1)
    assert(!exprs.exists(_.isInstanceOf[RegExpExtractAll]), "regexp_extract_all in a curate plan")
    assert(!exprs.exists(_.isInstanceOf[ArrayFilter]), "a lambda filter in a curate plan")
  }
}

package graft.functions

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._

/** The [[Native]] function table and its three ways in: the arity check
  * every row's builder applies, the casts a `Native.register` session and
  * a `GraftExtensions` session share, operators that build their
  * expressions without touching the caller's function registry, and a
  * source guard that keeps a second registry from growing back. */
class NativeSpec extends AnyFunSuite {

  private val names = Native.table.map(_.name)

  /** A session built from scratch — a session leaked by another suite
    * would be returned by getOrCreate without the wanted extensions. */
  private def withSession[T](extensions: Boolean)(f: SparkSession => T): T = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("native-spec")
    val spark = (if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions")
                 else b).getOrCreate()
    try f(spark) finally spark.stop()
  }

  private def assertWrongNumArgs(name: String, actual: Int)(call: => Any): Unit = {
    val e = intercept[AnalysisException](call)
    assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", name)
    assert(e.getMessage.contains(s"`$name`("), e.getMessage)
    assert(e.getMessage.contains(s"actual number is $actual"), e.getMessage)
  }

  test("every table function: a wrong argument count is WRONG_NUM_ARGS naming it") {
    withSession(extensions = false) { spark =>
      Native.register(spark)
      for (f <- Native.table; n <- Seq(f.arity - 1, f.arity + 1)) {
        assertWrongNumArgs(f.name, n) {
          spark.sql(s"SELECT ${f.name}(${Seq.fill(n)("1").mkString(", ")})").collect()
        }
        assertWrongNumArgs(f.name, n)(Native(f.name, Seq.fill(n)(lit(1)): _*))
      }
    }
  }

  test("BIGINT int arguments: a Native.register session and an extensions session agree") {
    val query =
      """SELECT ngram_hashes(array('a', 'b', 'c'), 2L) AS nh,
        |       minhash_band_keys(array('a', 'b', 'c'), 2L, 8L, 2L) AS mbk
        |""".stripMargin
    def rows(spark: SparkSession): (Seq[Long], Seq[Long]) = {
      val r = spark.sql(query).head()
      (r.getSeq[Long](0), r.getSeq[Long](1))
    }
    val registered = withSession(extensions = false) { spark =>
      Native.register(spark)
      rows(spark)
    }
    val injected = withSession(extensions = true)(rows)
    assert(registered === injected)
    assert(registered._1.length == 2)
    assert(registered._2 == graft.pipeline.PortableHash.bandKeys(
      graft.pipeline.PortableHash.minhashSignature(Seq("a b", "b c"), 8).toSeq, 2))
  }

  test("operators run on a session that registered nothing and leave its registry alone") {
    withSession(extensions = false) { spark =>
      val fresh = spark.newSession()
      val points = (0L until 60L).map(i =>
        (i, 48.0 + (i % 6) * 1e-3, 11.0 + (i / 6) * 1e-3))
      val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
        "eta", "theta", "iota", "kappa", "lambda", "mu")
      val docs = (0L until 24L).map { i =>
        val base = words.drop((i % 4).toInt) ++ words.take((i % 4).toInt)
        (i, (if (i >= 12) base.updated(11, s"w$i") else base).mkString(" "))
      }
      val items = (0L until 90L).map(i => (i % 3, i * 7 % 50))
      def run(s: SparkSession) = {
        val pts = s.createDataFrame(points).toDF("k", "lat", "lon")
        val geo = graft.geo.GeoJoins.pairsWithin(pts, "k", "lat", "lon", 150.0)
          .select("a_key", "b_key").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val corpus = s.createDataFrame(docs).toDF("doc_id", "text")
        val lsh = graft.pipeline.Dedup.minhashLshPairs(corpus, "doc_id", "text", 2, 16, 2, 0.5)
          .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val kmv = s.createDataFrame(items).toDF("g", "x").groupBy("g")
          .agg(Native("bottom_k_distinct", col("x"), lit(3)).as("b"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        (geo, lsh, kmv)
      }
      val onMain = run(spark)
      val onFresh = run(fresh)
      assert(onFresh === onMain)
      assert(onMain._1.nonEmpty && onMain._2.nonEmpty && onMain._3.size == 3)
      assert(names.filter(n => fresh.catalog.functionExists(n)) === Nil)
    }
  }

  test("source guard: src/main has one function registry, and no by-name call to a table entry") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new File(".").getAbsolutePath})")
    val files = Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val table = names.mkString("|")
    val byName = Seq(
      raw"""call_function\(\s*"($table)"""".r,
      raw"""(?:expr|selectExpr)\(\s*s?"+[^"]*\b($table)\s*\(""".r)
    val offenders = files.flatMap { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      val registry =
        if (src.contains("functionRegistry") && !p.endsWith("graft/functions/Native.scala"))
          Seq(s"$p: functionRegistry")
        else Nil
      registry ++ byName.flatMap(_.findAllMatchIn(src).map(m => s"$p: ${m.matched}"))
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

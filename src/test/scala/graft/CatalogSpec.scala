package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.LongType

/** The schema catalog behind [[Tables.table]] and the idempotent
  * [[Sql.register]]: a cached read is the same read, a repeat costs no
  * Spark job, and a rewritten file set or a changed inference conf is
  * never served an old schema. */
class CatalogSpec extends SparkTestBase {

  private val Tag = "graft.catalogSpec"

  /** `body`'s result and the Spark jobs this thread launched during it.
    * Jobs are told apart by a thread-local property (so a stray job from
    * another thread is not counted), and a barrier job run afterwards
    * flushes the asynchronous listener bus before the count is read. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val token = s"run-${System.nanoTime()}"
    val started = new AtomicInteger
    val barrierSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).orNull match {
          case `token` => started.incrementAndGet()
          case t if t == s"$token-barrier" => barrierSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, token)
      val out = body
      sc.setLocalProperty(Tag, s"$token-barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(barrierSeen.await(60, TimeUnit.SECONDS), "listener bus never delivered the barrier")
      (out, started.get)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A copy of the sf0.001 tables in a fresh directory. */
  private def copyOfTestdata(): JPath = {
    val dir = Files.createTempDirectory("graft_catalog")
    Sql.tableNames.foreach { t =>
      Files.copy(JPath.of(Tables.path(sfDir, t)), dir.resolve(s"$t.parquet"))
    }
    dir
  }

  test("a cached read has the schema and rows of a plain parquet read, for every table") {
    for (t <- Sql.tableNames) {
      Tables.table(spark, sfDir, t) // make sure the entry exists
      val cached = Tables.table(spark, sfDir, t)
      val plain = spark.read.parquet(Tables.path(sfDir, t))
      assert(cached.schema == plain.schema, s"schema of '$t'")
      assert(rows(cached) == rows(plain), s"rows of '$t'")
    }
  }

  test("a repeat Tables.table call launches no Spark job") {
    val dir = Files.createTempDirectory("graft_catalog_repeat").toString
    spark.range(5).selectExpr("id AS k", "id * 2 AS v").write.parquet(s"$dir/t.parquet")
    val (_, first) = jobsDuring(Tables.table(spark, dir, "t"))
    val (df, second) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(first >= 1, "the first read should infer the schema with a Spark job")
    assert(second == 0)
    assert(df.columns.toSeq == Seq("k", "v"))
  }

  test("a table rewritten in place with other columns is served its new schema") {
    val dir = Files.createTempDirectory("graft_catalog_rewrite").toString
    spark.range(3).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("CAST(id AS STRING) AS b", "CAST(id AS INT) AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.table(spark, dir, "t")
    assert(after.columns.toSeq == Seq("b", "c"))
    assert(after.count() == 3)
  }

  test("each nanosAsLong setting gets the schema inferred under it") {
    // a TIMESTAMP(NANOS) column, the physical type events.ts has shipped as
    val dir = Files.createTempDirectory("graft_catalog_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter.builder(new HPath(s"$dir/events.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally writer.close()
    def both(): (Option[String], Option[String]) =
      (Try(Tables.table(spark, dir, "events").schema.treeString).toOption,
        Try(spark.read.parquet(s"$dir/events.parquet").schema.treeString).toOption)
    for (flag <- Seq("true", "false", "true", "false")) withConf(Tables.NanosAsLong, flag) {
      val (catalog, plain) = both()
      assert(catalog == plain, s"nanosAsLong=$flag")
      if (flag == "true")
        assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
    }
    // the live events table too, raw, with the flag in either state
    for (flag <- Seq("false", "true")) withConf(Tables.NanosAsLong, flag) {
      assert(Tables.table(spark, sfDir, "events").schema ==
        spark.read.parquet(Tables.path(sfDir, "events")).schema, s"nanosAsLong=$flag")
    }
  }

  test("an inference conf flip re-infers: inferTimestampNTZ changes orders.o_orderdate") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val types = Seq("true", "false").map { flag =>
      withConf(key, flag) {
        val plain = spark.read.parquet(Tables.path(sfDir, "orders")).schema
        val cached = Tables.table(spark, sfDir, "orders").schema
        assert(cached == plain, s"$key=$flag")
        cached("o_orderdate").dataType
      }
    }
    assert(types.distinct.size == 2, s"the flag should change the inferred type: $types")
  }

  test("a repeat Sql.register in the same session launches no Spark job") {
    Sql.register(spark, sfDir)
    val (_, jobs) = jobsDuring(Sql.register(spark, sfDir))
    assert(jobs == 0)
    assert(spark.sql("SELECT count(*) FROM lineitem").head().getLong(0) ==
      Tables.lineitem(spark, sfDir).count())
  }

  test("Sql.register recreates a dropped view") {
    Sql.register(spark, sfDir)
    spark.catalog.dropTempView("lineitem")
    assert(!spark.catalog.tableExists("lineitem"))
    val (_, jobs) = jobsDuring(Sql.register(spark, sfDir))
    assert(spark.catalog.tableExists("lineitem"))
    assert(jobs == 0, "the catalog already holds lineitem's schema")
  }

  test("Sql.register re-points the views when the dir changes back and forth") {
    val other = copyOfTestdata()
    spark.read.parquet(Tables.path(sfDir, "lineitem")).limit(7)
      .write.parquet(other.resolve("lineitem7.parquet").toString)
    val lineitem = other.resolve("lineitem.parquet")
    Files.delete(lineitem)
    Files.move(other.resolve("lineitem7.parquet"), lineitem)
    def count(): Long = spark.sql("SELECT count(*) FROM lineitem").head().getLong(0)
    val full = Tables.lineitem(spark, sfDir).count()
    Sql.register(spark, other.toString)
    assert(count() == 7)
    Sql.register(spark, sfDir)
    assert(count() == full)
    Sql.register(spark, other.toString)
    assert(count() == 7)
    Sql.register(spark, sfDir)
  }

  test("a new session gets its views with no inference job") {
    Sql.register(spark, sfDir)
    val s2: SparkSession = spark.newSession()
    val (_, jobs) = jobsDuring(Sql.register(s2, sfDir))
    assert(jobs == 0)
    assert(Sql.tableNames.forall(s2.catalog.tableExists))
  }
}

package graft

import org.apache.spark.sql.types._

/** `Tables` reads every fixture with the schema Spark itself infers, and
  * infers it once per file and inference conf. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tables_$tag").toString

  /** Runs `f` with `key` set to `value`, then restores the session's value. */
  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prior match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("Tables.schema equals Spark's own inference on every sf0.01 fixture " +
    "table, and each table reads with it, under nanosAsLong true and false") {
    val dir = "/root/testdata/sf0.01"
    for (nanos <- Seq("true", "false")) withConf("spark.sql.legacy.parquet.nanosAsLong", nanos) {
      Tables.all.foreach { t =>
        val p = Tables.path(dir, t)
        val inferred = spark.read.parquet(p).schema
        assert(Tables.schema(spark, p) === inferred, s"$t under nanosAsLong=$nanos")
        if (t != "events") assert(Tables(spark, dir, t).schema === inferred, t)
      }
    }
    assert(Tables.events(spark, dir).schema ===
      Tables.normalizeTs(spark.read.parquet(Tables.path(dir, "events"))).schema)
  }

  test("Tables.events on a micros fixture leaves nanosAsLong as the caller " +
    "left it, and its footer check launches no job") {
    val dir = "/root/testdata/sf0.01"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def setting = spark.conf.getAll.get(key) // None when the session never set it
    val original = setting
    try for (prior <- Seq(None, Some("false"), Some("true"))) {
      prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(Tables.events(spark, dir).count() > 0) // infers once under these confs
      assert(setting === prior)
      assert(SparkSpec.jobsOf(spark)(Tables.events(spark, dir)) === 0)
      assert(setting === prior)
    } finally original.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a second read of the same file launches no job; the first infers once") {
    val dir = tmpDir("jobs")
    Seq((1, "a"), (2, "b")).toDF("r_regionkey", "r_name").coalesce(1)
      .write.parquet(Tables.path(dir, "region"))
    val first = SparkSpec.jobsOf(spark)(Tables(spark, dir, "region"))
    val second = SparkSpec.jobsOf(spark)(Tables(spark, dir, "region"))
    assert((first, second) === ((1, 0)))
    assert(Tables(spark, dir, "region").count() === 2L)
  }

  test("a file rewritten in place with different columns infers again") {
    val dir = tmpDir("rewrite")
    val file = new java.io.File(Tables.path(dir, "part"))
    /** Writes `df` as one parquet file and moves it to `file`'s path. */
    def writeInPlace(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = s"$dir/out-${System.nanoTime()}"
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, file.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeInPlace(Seq((1L, "x")).toDF("p_partkey", "p_name"))
    assert(Tables(spark, dir, "part").columns.toSeq === Seq("p_partkey", "p_name"))
    writeInPlace(Seq((2.5, 7, 8L)).toDF("a", "b", "c"))
    val reread = Tables(spark, dir, "part")
    assert(reread.schema === spark.read.parquet(file.getPath).schema)
    assert(reread.as[(Double, Int, Long)].collect().toSeq === Seq((2.5, 7, 8L)))
  }

  test("the inference confs are part of the memo key: nanosAsLong and " +
    "binaryAsString on a TIMESTAMP(NANOS) file") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    // written without Spark's schema metadata, so the confs decide the types
    val dir = tmpDir("conf")
    val p = Tables.path(dir, "events")
    val layout = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(p),
      spark.sparkContext.hadoopConfiguration)).withType(layout).build()
    try w.write(new SimpleGroupFactory(layout).newGroup()
      .append("ts", 1700000000000000999L).append("b", Binary.fromString("hi")))
    finally w.close()
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val binStr = "spark.sql.parquet.binaryAsString"
    def both(n: String, b: String) = withConf(nanos, n)(withConf(binStr, b)(
      (Tables.schema(spark, p), spark.read.parquet(p).schema)))
    for ((b, bType) <- Seq("false" -> BinaryType, "true" -> StringType, "false" -> BinaryType)) {
      val (memo, inferred) = both("true", b)
      assert(memo === inferred)
      assert(memo.map(_.dataType) === Seq(LongType, bType), s"binaryAsString=$b")
    }
    withConf(nanos, "false") {
      intercept[Exception](spark.read.parquet(p).schema)
      intercept[Exception](Tables.schema(spark, p))
      // Tables.events sets nanosAsLong itself
      assert(Tables.events(spark, dir).selectExpr("unix_micros(ts)").as[Long].collect()
        .toSeq === Seq(1700000000000000L))
    }
  }
}

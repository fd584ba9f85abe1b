package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.TimestampType

/** Schema tripwire: if the driver regenerates testdata with different
  * columns, fail here with a clear message instead of deep inside a query.
  * Also pins the footer cache behind the loaders: registration runs no
  * Spark job, and a rewritten or grown table is re-read. */
class TablesSpec extends GraftSpec {

  /** One fresh session for the specs that need loaders not yet memoized. */
  private lazy val fresh = spark.newSession()

  private val allTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** Write `df` as the single parquet file `target` (replacing it). */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val stage = Files.createTempDirectory("graft-tables-stage")
    df.coalesce(1).write.parquet(stage.resolve("out").toString)
    val part = Files.list(stage.resolve("out")).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  test("registering all ten tables in a fresh session starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-register-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    @volatile var markerSeen = false
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.add(js.jobId)
          case `marker` => markerSeen = true
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "table registration")
      try Tables.registerAll(fresh, sf0001) finally sc.clearJobGroup()
      // the listener bus delivers in order: once a later marker job is
      // seen, every registration job start has been delivered too
      sc.setJobGroup(marker, "listener-bus marker")
      try fresh.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "marker job never reached the listener")
      assert(jobs.isEmpty, s"table registration started Spark jobs: $jobs")
      assert(allTables.forall(fresh.catalog.tableExists))
    } finally sc.removeSparkListener(l)
  }

  test("each loader's raw schema equals Spark's own parquet inference") {
    allTables.foreach { name =>
      val inferred = spark.read.parquet(s"$sf0001/$name.parquet").schema
      assert(Tables.table(spark, sf0001, name).schema == inferred, name)
    }
  }

  test("a parquet file rewritten at the same path is re-read") {
    val dir = Files.createTempDirectory("graft-tables-rewrite")
    val file = dir.resolve("t.parquet")
    writeFile(spark.range(3).toDF("a"), file)
    assert(Tables.footerRowCount(spark, dir.toString, "t") == 3L)
    assert(Tables.table(spark, dir.toString, "t").columns.toSeq == Seq("a"))
    writeFile(spark.range(5).selectExpr("id AS a", "id * 2 AS b"), file)
    assert(Tables.footerRowCount(spark, dir.toString, "t") == 5L)
    // frames are memoized per session: a fresh session sees the rewrite
    val t = Tables.table(fresh, dir.toString, "t")
    assert(t.columns.toSeq == Seq("a", "b"))
    assert(t.count() == 5L)
  }

  test("a directory that gains a file reports the new row count") {
    val base = Files.createTempDirectory("graft-tables-grow")
    val dir = Files.createDirectory(base.resolve("g.parquet"))
    writeFile(spark.range(4).toDF("a"), dir.resolve("p0.parquet"))
    assert(Tables.footerRowCountAt(spark, dir.toString) == 4L)
    writeFile(spark.range(6).toDF("a"), dir.resolve("p1.parquet"))
    assert(Tables.footerRowCountAt(spark, dir.toString) == 10L)
    Files.delete(dir.resolve("p0.parquet"))
    assert(Tables.footerRowCountAt(spark, dir.toString) == 6L)
    // files that disagree on the schema fail, naming the path
    writeFile(spark.range(1).toDF("b"), dir.resolve("p2.parquet"))
    val err = intercept[IllegalArgumentException](Tables.table(fresh, base.toString, "g"))
    assert(err.getMessage.contains(dir.toString), err.getMessage)
  }

  test("every table has exactly the expected columns") {
    Tables.expectedColumns.foreach { case (name, cols) =>
      val actual = Tables.table(spark, sf0001, name).columns.toSeq
      assert(actual == cols, s"$name: $actual != $cols")
    }
  }

  test("events loader yields a true TimestampType ts at microsecond precision") {
    val df = Tables.events(spark, sf0001)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.filter(org.apache.spark.sql.functions.col("ts").isNull).count() == 0)
  }

  test("normalizeTs pins all three ts encodings to the same UTC instants") {
    // the driver has shipped events.ts as TIMESTAMP(NANOS)→LongType (rounds
    // 1-6), then TIMESTAMP(MICROS) NTZ (round-7 regen); a future regen could
    // ship true TimestampType. All three must normalize to identical instants.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // values must stay in ±Long.Max/1000 so the nanos encoding doesn't overflow
    val micros = Seq(0L, 1L, -1000000L, 1700000000000000L)
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(micros.map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("us", org.apache.spark.sql.types.LongType))))
    val asLongNanos = base.select((col("us") * 1000L).as("ts"))
    val asNtz = base.select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    val asTz = base.select(timestamp_micros(col("us")).as("ts"))
    val out = Seq(asLongNanos, asNtz, asTz).map(Tables.normalizeTs(_))
    out.foreach(df => assert(df.schema("ts").dataType == TimestampType))
    val instants = out.map(_.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq)
    assert(instants.forall(_ == micros), s"encodings disagree: $instants vs $micros")
  }

  test("embeddings loader pins the vector type across float/double encodings") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // the shipped table must come out array<float>
    val vec = Tables.embeddings(spark, sf0001).schema("embedding").dataType
    assert(vec == ArrayType(FloatType, containsNull = true) ||
           vec == ArrayType(FloatType, containsNull = false), s"got ${vec.sql}")
    // a double-encoded regeneration normalizes to the same values
    val doubles = spark.range(3).select(col("id"),
      array(col("id").cast("double") / 4, lit(0.25)).as("embedding"))
    val norm = Tables.normalizeEmbedding(doubles)
    assert(norm.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType)
    val vals = norm.orderBy("id").collect().map(_.getSeq[Float](1).toSeq)
    assert(vals.toSeq == Seq(Seq(0.0f, 0.25f), Seq(0.25f, 0.25f), Seq(0.5f, 0.25f)))
    // any other element type must fail at the loader, naming the schema
    val bad = spark.range(1).select(array(lit("x")).as("embedding"))
    val err = intercept[IllegalArgumentException](Tables.normalizeEmbedding(bad))
    assert(err.getMessage.contains("array<float>"), err.getMessage)
  }

  test("loader output dtypes are pinned (regeneration drift fails here, not mid-query)") {
    // the driver has regenerated /root/testdata with changed physical types
    // before (events.ts nanos → NTZ-micros); the loaders normalize the
    // benign re-encodings (ts, embedding vectors), and THIS pin catches
    // everything else with a message naming the table and column. If it
    // fires after a regeneration: decide normalize-vs-adopt per column,
    // mirroring Tables.normalizeTs / normalizeEmbedding.
    val expected = Map(
      "documents" -> Map("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> Map("vec_id" -> "bigint",
        "embedding" -> "array<float>", "label" -> "int"),
      "events" -> Map("event_id" -> "bigint", "ts" -> "timestamp",
        "user_id" -> "bigint", "event_type" -> "string",
        "value" -> "double", "props" -> "string"),
      "lineitem" -> Map("l_orderkey" -> "bigint", "l_linenumber" -> "int",
        "l_quantity" -> "double", "l_extendedprice" -> "double",
        "l_shipdate" -> "timestamp_ntz"),
      "orders" -> Map("o_orderkey" -> "bigint", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp_ntz", "o_orderpriority" -> "string"))
    val loaders: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "documents" -> (Tables.documents _), "embeddings" -> (Tables.embeddings _),
      "events" -> (Tables.events _), "lineitem" -> (Tables.lineitem _),
      "orders" -> (Tables.orders _))
    expected.foreach { case (table, cols) =>
      val schema = loaders(table)(spark, sf0001).schema
      cols.foreach { case (c, want) =>
        val got = schema(c).dataType.simpleString
        assert(got == want, s"$table.$c: loader yields $got, pinned $want — " +
          "testdata regeneration drift; see this test's comment")
      }
    }
  }

  test("documents text is non-null and non-empty (codec path invariant)") {
    // the media codecs cannot wrap a zero-byte payload; codecMediaTable
    // filters empty docs defensively (mirrored in its oracle SQL), but the
    // current corpus should have none — if a regeneration introduces one,
    // this pin names it so the filter's silent drop is a DECISION, not a
    // surprise (ADVICE r8)
    import org.apache.spark.sql.functions._
    val bad = Tables.documents(spark, sf0001)
      .filter(col("text").isNull || length(col("text")) === 0).count()
    assert(bad == 0L, s"$bad empty/null-text documents — mm_* queries now " +
      "silently exclude them on both engines; re-confirm that is intended")
  }

  test("fact scans fan out to full parallelism; dims keep natural partitioning") {
    // the harness parquet is single-row-group (scan = 1 task); the guarded
    // repartition must spread fact compute across cores without touching
    // dimension tables (whose broadcast plans must stay exchange-free)
    val target = spark.sparkContext.defaultParallelism
    assert(Tables.documents(spark, sf0001).rdd.getNumPartitions == target)
    assert(Tables.lineitem(spark, sf0001).rdd.getNumPartitions == target)
    // on a 1-core runner a 1-partition dim scan already equals target; the
    // strict < only means something when there is parallelism to fan out to
    if (target > 1)
      assert(Tables.nation(spark, sf0001).rdd.getNumPartitions < target)
  }

  test("fan-out keeps filter pushdown and column pruning at the scan") {
    import org.apache.spark.sql.functions.col
    val plan = Tables.documents(spark, sf0001)
      .filter(col("lang") === "en").select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"filter not pushed through the fan-out repartition:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"columns not pruned through the fan-out repartition:\n$plan")
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.config.EngineConfig
import graft.model.Message
import graft.operators.{Router, Transforms}
import graft.schema.{Catalog, CatalogBuilder, TableSchema}
import graft.sinks.Sink
import graft.streaming.StreamRoutes

/** Hermod's own dataflow: MQTT envelopes → first-match route → transform
  * → strict catalog validation → date-partitioned landed tables, driven
  * through `StreamRoutes.routedWriter` in fixed-size micro-batches.
  *
  * Closed loop, one client: a write op adds one batch to the
  * `MemoryStream` and waits for `processAllAvailable`, so B / (batch
  * time) is the rate the engine sustains at batch size B. Each write op
  * is followed by one serve op: a read-back count of every landed table,
  * checked against the generator's routing counts.
  * Touches config, router, streaming and sink writes — no index, no
  * graph loop.
  */
object IngestWorkload {

  val BatchSize = 1000
  val WarmupBatches = 1

  /** Four routes: select/where, a `[[routes.records]]` multi-record
    * route (overlapping the first), a registry `script` transform, and
    * the `iot_raw` passthrough for everything unmatched.
    */
  val Toml: String =
    """[validation]
      |strict_types = true
      |
      |[[routes]]
      |filter = "sensors/+/temperature"
      |table = "temperature"
      |where = "try_parse_json(cast(payload as string)) is not null and get_json_object(cast(payload as string), '$.celsius') is not null"
      |select = ["time", "split_part(topic, '/', 2) as sensor", "cast(get_json_object(cast(payload as string), '$.celsius') as double) as celsius"]
      |
      |[[routes]]
      |filter = "sensors/#"
      |where = "try_parse_json(cast(payload as string)) is not null"
      |[[routes.records]]
      |table = "sensor_readings"
      |select = ["time", "inline(from_json(cast(payload as string), 'readings array<struct<sensor_id:bigint,value:double>>').readings)"]
      |[[routes.records]]
      |table = "sensor_events"
      |where = "get_json_object(cast(payload as string), '$.alert') is not null"
      |select = ["time", "split_part(topic, '/', 2) as sensor", "get_json_object(cast(payload as string), '$.alert') as alert"]
      |
      |[[routes]]
      |filter = "devices/#"
      |script = "iot_metrics"
      |table = "iot_metrics"
      |""".stripMargin

  val catalog: Catalog = CatalogBuilder(
    TableSchema("temperature", Map("time" -> "timestamptz",
      "sensor" -> "text", "celsius" -> "double precision")),
    TableSchema("sensor_readings", Map("time" -> "timestamptz",
      "sensor_id" -> "bigint", "value" -> "double precision")),
    TableSchema("sensor_events", Map("time" -> "timestamptz",
      "sensor" -> "text", "alert" -> "text")),
    TableSchema("iot_metrics", Map("time" -> "timestamptz",
      "device" -> "text", "value" -> "double precision", "raw" -> "text")),
    TableSchema("iot_raw", Map("time" -> "timestamptz", "topic" -> "text",
      "qos" -> "int", "retain" -> "boolean", "raw" -> "text", "json" -> "text")))

  val registry: Map[String, DataFrame => DataFrame] =
    Map("iot_metrics" -> Transforms.iotMetrics)

  private final class Pipeline(
      val input: MemoryStream[Message],
      val query: StreamingQuery,
      val router: Router,
      val out: String) {
    /** Rows the generator says each table must hold so far. */
    val expected = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
  }

  private def fileCensus(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  private def start(spark: SparkSession, out: String): Pipeline = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val router = Trace.span("config.build_router_s") {
      EngineConfig.fromToml(Toml).buildRouter(registry, catalog)
    }
    val input = MemoryStream[Message]
    val files = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val query = StreamRoutes.routedWriter(input.toDF(), router) { (table, df) =>
      val root = s"$out/$table"
      Trace.span("sink.write_s", table)(
        Sink.writePartitionedByDate(df, root, "time", "append"))
      if (Trace.on) {
        val now = fileCensus(spark, root)
        Trace.record("sink.census", 0.0, table, "files" -> (now - files(table)).toDouble)
        files(table) = now
      }
    }.option("checkpointLocation", s"$out/_checkpoint").start()
    new Pipeline(input, query, router, out)
  }

  /** One write op: add a batch, wait for it to land everywhere. */
  private def feed(p: Pipeline, b: Gen.IngestBatch, streamDf: DataFrame): Unit = {
    // the router's plan build + catalog validation runs inside the
    // foreachBatch the engine owns; the traced run times the same
    // driver-only call on the stream's schema beside it
    if (Trace.on) Trace.span("router.fanout_s") { p.router.fanOut(streamDf) }
    p.input.addData(b.messages.toSeq)
    p.query.processAllAvailable()
    b.expected.foreach { case (t, n) => p.expected(t) += n }
    if (Trace.on) {
      val prog = p.query.recentProgress.filter(_.numInputRows > 0).lastOption
      prog.foreach { pr =>
        val d = pr.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
        Trace.record("streaming.trigger_s", ms("triggerExecution"), "")
        Trace.record("streaming.add_batch_s", ms("addBatch"), "")
        Trace.record("streaming.overhead_s",
          ms("triggerExecution") - ms("addBatch"), "")
      }
    }
  }

  private def landed(spark: SparkSession, p: Pipeline, table: String): Long =
    spark.read.parquet(s"${p.out}/$table").count()

  /** One serve op: the landed row count of every table. */
  private def readBack(spark: SparkSession, p: Pipeline): Seq[(String, Long)] =
    Gen.IngestTables.map(t => t -> landed(spark, p, t))

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String,
      run: Run): Unit = {
    val rng = new Gen.Rng(seed)
    var p: Pipeline = null
    var streamDf: DataFrame = null
    (1 to Main.SetupReps).foreach { rep =>
      if (p != null) p.query.stop()
      val warm = Seq.fill(WarmupBatches)(Gen.ingestBatch(rng, BatchSize))
      // the first set-up also warms the JVM: its spans stay out of the
      // per-layer metrics
      if (rep == 1) Trace.beginWarmup() else Trace.beginOp()
      run.timed(run.setups) {
        p = start(spark, s"$work/ingest-$rep")
        streamDf = p.input.toDF()
        warm.foreach(b => feed(p, b, streamDf))
      }
      if (rep == 1) {
        // warm the serve path; the set-ups warm the write path
        val t0 = System.nanoTime()
        readBack(spark, p)
        run.warmup = (System.nanoTime() - t0) / 1e9
      }
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val b = Gen.ingestBatch(rng, BatchSize)
      Trace.beginOp()
      run.op("ingest batch") {
        Trace.span("op.write_s") { run.timed(run.writes)(feed(p, b, streamDf)) }
        run.records += b.messages.length
      }
      Trace.beginOp()
      run.op("read back every table") {
        val counts = Trace.span("op.serve_s")(run.timed(run.serves)(readBack(spark, p)))
        counts.foreach { case (t, n) =>
          run.check(s"$t holds ${p.expected(t)} rows, read $n", n == p.expected(t))
        }
      }
    }
    p.query.stop()
    // outside timing: every table's landed rows and schema
    Gen.IngestTables.foreach { t =>
      run.verify(s"$t landed row count = generator routing count") {
        landed(spark, p, t) == p.expected(t)
      }
      run.verify(s"$t landed schema = catalog") {
        val decl = catalog.tables(t).columns
        val got = spark.read.parquet(s"${p.out}/$t").schema.fields
          .filter(_.name != "date")
        got.map(_.name).toSet == decl.keySet && got.forall(f =>
          Catalog.sqlTypeToSpark(decl(f.name)) == f.dataType)
      }
    }
  }
}

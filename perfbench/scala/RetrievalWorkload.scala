package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{Similarity, TextAnalysis}
import graft.sinks.Sink

/** A persisted inverted text index and an IVF index over the same ids,
  * with writes beside reads. One client runs a seeded closed-loop
  * schedule: a write op (append a batch to both indexes, tombstone a
  * seeded id set in both, run both compaction valves) followed by one
  * serve op: reload both indexes, as a server does, then answer one
  * request as BM25 (its first query is the batch's planted term),
  * integer-probe ANN and RRF hybrid. The declared valve policy makes both
  * indexes compact on every `Cycle`-th write op. Touches sinks.index,
  * operators.text and operators.similarity — no router, no streaming, no
  * graph loop.
  */
object RetrievalWorkload {

  val InitialDocs = 400
  val BatchDocs = 20
  val DeletesPerWrite = 5
  /** Write ops per valve cycle: both indexes compact on the last one. A
    * run of whole cycles has 1 plain and 1 compacting write op per cycle,
    * and as many serve ops after each, so the median of each class weighs
    * both.
    */
  val Cycle = 2
  val Buckets = 8
  val Nlist = 8
  val K = 10
  val QueriesPerServe = 3
  val QueryIdBase = 1000000000000L

  /** Text valve: > Cycle−1 ingest batches folds. IVF valve counts ingest
    * + tombstone batches, so > 2·Cycle−1 folds on the same write op.
    */
  val TextPolicy = Sink.ValvePolicy(1000000L, Cycle - 1L, 1000000000L)
  val IvfPolicy = Sink.ValvePolicy(1000000L, 2L * Cycle - 1L, 1000000000L)

  final case class Corpus(
      vocab: Array[String],
      cdf: Array[Double],
      centers: Array[Array[Double]])

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  private def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Live logical state of both indexes, as the generator knows it. */
  private final class State(val root: String) {
    val text = s"$root/text"
    val ivf = s"$root/ivf"
    val docs = mutable.LinkedHashMap.empty[Long, String]
    val vecs = mutable.LinkedHashMap.empty[Long, Array[Double]]
    val deleted = mutable.Set.empty[Long]
    val planted = mutable.ArrayBuffer.empty[(String, Long)]
    var nextId = 1L
    var writes = 0L
  }

  private final case class WriteBatch(
      docs: Seq[(Long, String)],
      vecs: Seq[(Long, Array[Double])],
      deletes: Seq[Long],
      plantedTerm: String)

  private def newDoc(r: Gen.Rng, c: Corpus): String =
    Gen.sentence(r, c.vocab, c.cdf, 15 + r.int(25))

  private def writeBatch(seed: Long, s: State, c: Corpus): WriteBatch = {
    val r = new Gen.Rng(seed * 7919L + s.writes)
    val ids = (0 until BatchDocs).map(i => s.nextId + i)
    val term = s"plant${s.writes}z"
    val docs = ids.map(id => id -> newDoc(r, c))
    val plantedDocs = (docs.head._1 -> s"${docs.head._2} $term") +: docs.tail
    val live = s.docs.keys.toIndexedSeq
    val dels = mutable.LinkedHashSet.empty[Long]
    while (dels.size < DeletesPerWrite) dels += live(r.int(live.size))
    WriteBatch(plantedDocs, ids.map(id => id -> Gen.vector(r, c.centers)),
      dels.toSeq, term)
  }

  /** One write op: append to both indexes, tombstone in both, valves. */
  private def write(spark: SparkSession, s: State, b: WriteBatch,
      docsDf: DataFrame, vecsDf: DataFrame, delsDf: DataFrame): Unit = {
    val bid = 2L * s.writes
    Trace.span("index.append_text_s")(Sink.appendTextIndex(spark, s.text, docsDf, bid))
    Trace.span("index.append_ivf_s")(Sink.appendIvfIndex(spark, s.ivf, vecsDf, bid))
    Trace.span("index.delete_text_s")(
      Sink.deleteFromTextIndex(spark, s.text, delsDf.withColumnRenamed("id", "doc_id"), bid + 1))
    Trace.span("index.delete_ivf_s")(
      Sink.deleteFromIvfIndex(spark, s.ivf, delsDf.withColumnRenamed("id", "vec_id"), bid + 1))
    Trace.span("index.compact_text_s") {
      Trace.count("fired", if (Sink.compactTextIndexIfNeeded(spark, s.text)._1) 1 else 0)
    }
    Trace.span("index.compact_ivf_s") {
      Trace.count("fired", if (Sink.compactIvfIndexIfNeeded(spark, s.ivf)._1) 1 else 0)
    }
    b.docs.foreach { case (id, t) => s.docs(id) = t }
    b.vecs.foreach { case (id, v) => s.vecs(id) = v }
    b.deletes.foreach { id => s.docs.remove(id); s.vecs.remove(id); s.deleted += id }
    s.planted += (b.plantedTerm -> b.docs.head._1)
    s.nextId += BatchDocs
    s.writes += 1
  }

  private def doWrite(spark: SparkSession, seed: Long, s: State, c: Corpus,
      run: Run, timed: Boolean): Unit = {
    val b = writeBatch(seed, s, c)
    val docsDf = df(spark, b.docs.map { case (i, t) => Row(i, t) }, docSchema)
    val vecsDf = df(spark, b.vecs.map { case (i, v) => Row(i, v.toSeq) }, vecSchema)
    import spark.implicits._
    val delsDf = b.deletes.toDF("id")
    if (timed) {
      Trace.span("op.write_s") {
        run.timed(run.writes)(write(spark, s, b, docsDf, vecsDf, delsDf))
      }
      run.records += b.docs.size + b.vecs.size
    } else write(spark, s, b, docsDf, vecsDf, delsDf)
  }

  /** Build the DataFrame and its physical plan, then execute it. */
  private def planAndRun(name: String)(build: => DataFrame): Array[Row] =
    Trace.span(s"${name}_s") {
      val q = Trace.span(s"${name}_plan_s") {
        val d = build; d.queryExecution.executedPlan; d
      }
      Trace.span(s"${name}_exec_s")(q.collect())
    }

  private def census(spark: SparkSession, s: State): Unit =
    if (Trace.on) {
      val fs = new org.apache.hadoop.fs.Path(s.root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      var files = 0L
      var bytes = 0L
      Seq(s.text, s.ivf).foreach { d =>
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(d), true)
        while (it.hasNext) { val f = it.next(); files += 1; bytes += f.getLen }
      }
      Trace.record("index.census", 0.0, "", "files" -> files.toDouble,
        "bytes" -> bytes.toDouble)
    }

  /** One serve request: query i has terms(i) and vecs(i). */
  private final case class Request(terms: Seq[Seq[String]], vecs: Seq[Array[Double]])

  private def request(r: Gen.Rng, c: Corpus, planted: Option[String]): Request = {
    val terms = (0 until QueriesPerServe).map { i =>
      if (i == 0 && planted.isDefined) Seq(planted.get)
      else Seq.fill(2 + r.int(2))(c.vocab(r.pick(c.cdf)))
    }
    Request(terms, Seq.fill(QueriesPerServe)(Gen.vector(r, c.centers)))
  }

  /** The request as a BM25 (kind 0), ANN (1) or hybrid (2) request table. */
  private def requestDf(spark: SparkSession, q: Request, kind: Int): DataFrame = {
    val ids = q.terms.indices.map(i => QueryIdBase + i)
    kind match {
      case 0 => df(spark, ids.zip(q.terms).map { case (i, t) => Row(i, t) },
        StructType(Seq(StructField("query_id", LongType),
          StructField("terms", ArrayType(StringType)))))
      case 1 => df(spark, ids.zip(q.vecs).map { case (i, v) => Row(i, v.toSeq) },
        StructType(Seq(StructField("query_id", LongType),
          StructField("embedding", ArrayType(DoubleType)))))
      case _ => df(spark, ids.indices.map(j => Row(ids(j), q.terms(j), q.vecs(j).toSeq)),
        StructType(Seq(StructField("query_id", LongType),
          StructField("terms", ArrayType(StringType)),
          StructField("embedding", ArrayType(DoubleType)))))
    }
  }

  /** One serve op: reload both indexes, then answer the request tables of
    * `requestDfs` as BM25, ANN and hybrid. Returns the (query_id, id) of
    * every result row, per kind.
    */
  private def serve(spark: SparkSession, s: State,
      reqs: Seq[DataFrame]): Seq[Seq[(Long, Long)]] = {
    val t = Trace.span("index.read_text_s")(Sink.readTextIndex(spark, s.text))
    val v = Trace.span("index.read_ivf_s")(Sink.readIvfIndex(spark, s.ivf))
    val bm25 = planAndRun("text.bm25")(TextAnalysis.bm25QueryBatch(t, reqs(0), K))
    val ann = planAndRun("similarity.ann")(
      Similarity.ivfQueryVectorsIntProbe(v, reqs(1), K, nprobe = 3))
    val hybrid = planAndRun("text.hybrid")(
      TextAnalysis.rrfQueryBatch(t, v, reqs(2), k = K, legK = 20, nprobe = 3))
    def ids(rows: Array[Row], col: String) =
      rows.toSeq.map(r => (r.getAs[Long]("query_id"), r.getAs[Long](col)))
    Seq(ids(bm25, "doc_id"), ids(ann, "vec_id"), ids(hybrid, "doc_id"))
  }

  private def requestDfs(spark: SparkSession, q: Request): Seq[DataFrame] =
    (0 to 2).map(requestDf(spark, q, _))

  private def setup(spark: SparkSession, seed: Long, c: Corpus, root: String,
      run: Run): State = {
    val s = new State(root)
    val r = new Gen.Rng(seed)
    (0 until InitialDocs).foreach { i =>
      s.docs(i + 1L) = newDoc(r, c)
      s.vecs(i + 1L) = Gen.vector(r, c.centers)
    }
    s.nextId = InitialDocs + 1L
    val docsDf = df(spark, s.docs.toSeq.map { case (i, t) => Row(i, t) }, docSchema)
    val vecsDf = df(spark, s.vecs.toSeq.map { case (i, v) => Row(i, v.toSeq) }, vecSchema)
    Sink.writeTextIndex(docsDf, s.text, Buckets, "overwrite", Some(TextPolicy))
    val built = Similarity.buildIvfIndexExact(vecsDf, Nlist, 3)
    Sink.writeIvfIndex(built, s.ivf, "overwrite", Some(IvfPolicy))
    built.unpersist()
    s
  }

  /** One valve cycle of write and serve ops, compaction included, on a
    * throw-away state.
    */
  private def warmup(spark: SparkSession, seed: Long, s: State, c: Corpus,
      run: Run): Unit =
    (1 to Cycle).foreach { i =>
      doWrite(spark, seed, s, c, run, timed = false)
      serve(spark, s, requestDfs(spark, request(new Gen.Rng(seed + i), c, None)))
    }

  def corpus(seed: Long): Corpus = {
    val r = new Gen.Rng(seed ^ 0x5eed)
    val vocab = Gen.vocabulary(r, 3000)
    Corpus(vocab, Gen.zipfCdf(vocab.length, 1.05), Gen.centers(r, Nlist))
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String,
      run: Run): Unit = {
    val c = corpus(seed)
    var s: State = null
    (1 to Main.SetupReps).foreach { rep =>
      run.timed(run.setups) { s = setup(spark, seed, c, s"$work/retrieval-$rep", run) }
      if (rep == 1) {
        val t0 = System.nanoTime()
        Trace.beginWarmup()
        warmup(spark, seed, s, c, run)
        run.warmup = (System.nanoTime() - t0) / 1e9
      }
    }
    val rng = new Gen.Rng(seed + 17)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // whole valve cycles only, at least one (a cycle outlasts a run's
    // seconds), so every run sees the same mix of write and serve ops
    do (1 to Cycle).foreach { _ =>
      Trace.beginOp()
      run.op("write op")(doWrite(spark, seed, s, c, run, timed = true))
      val reqs = requestDfs(spark, request(rng, c, s.planted.lastOption.map(_._1)))
      Trace.beginOp()
      census(spark, s)
      run.op("serve op") {
        val got = Trace.span("op.serve_s")(run.timed(run.serves)(serve(spark, s, reqs)))
        run.check("no tombstoned id in a serve result",
          got.flatten.forall { case (_, id) => !s.deleted.contains(id) })
        val (_, doc) = s.planted.last
        run.check(s"planted term of write ${s.writes} finds doc $doc first",
          got.head.headOption.contains(QueryIdBase -> doc))
      }
    } while (System.nanoTime() < deadline)
    finalChecks(spark, s, c, rng, run)
  }

  /** Outside timing: the incremental indexes against fresh answers. */
  private def finalChecks(spark: SparkSession, s: State, c: Corpus,
      rng: Gen.Rng, run: Run): Unit = {
    run.verify("every live planted term finds its doc first") {
      val live = s.planted.filter { case (_, doc) => s.docs.contains(doc) }
      val firsts = TextAnalysis.bm25QueryBatch(Sink.readTextIndex(spark, s.text),
        requestDf(spark, Request(live.map(p => Seq(p._1)).toSeq, Nil), 0), 1)
        .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("doc_id"))
      live.nonEmpty && firsts.toMap == live.zipWithIndex.map { case ((_, doc), i) =>
        (QueryIdBase + i) -> doc }.toMap
    }
    val q = request(rng, c, s.planted.lastOption.map(_._1))
    val reqs = requestDf(spark, q, 0)
    run.verify("BM25 top-k = a fresh index over the final corpus") {
      val fresh = s"${s.root}/text-fresh"
      Sink.writeTextIndex(
        df(spark, s.docs.toSeq.map { case (i, t) => Row(i, t) }, docSchema),
        fresh, Buckets)
      def answer(path: String) =
        TextAnalysis.bm25QueryBatch(Sink.readTextIndex(spark, path), reqs, K)
          .collect().map(_.toSeq).toSeq
      val got = answer(s.text)
      got.nonEmpty && got == answer(fresh)
    }
    val vq = request(rng, c, None)
    run.verify("exhaustive ANN probe = exact cosine top-k on the driver") {
      val idx = Sink.readIvfIndex(spark, s.ivf)
      val got = Similarity.ivfQueryVectorsIntProbe(idx, requestDf(spark, vq, 1), K,
        nprobe = idx.nlist).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
          r.getAs[Double]("cosine")))
        .groupBy(_._1)
      val live = s.vecs.toSeq.map { case (id, v) => id -> Gen.unit(v) }
      vq.vecs.zipWithIndex.forall { case (v, i) =>
        val qu = Gen.unit(v)
        val exact = live.map { case (id, u) =>
          id -> u.zip(qu).map { case (a, b) => a * b }.sum
        }.sortBy { case (id, cos) => (-cos, id) }.take(K)
        val ann = got.getOrElse(QueryIdBase + i, Array.empty).sortBy(_._3)(Ordering[Double].reverse)
        ann.length == exact.length &&
          ann.map(_._2).distinct.length == ann.length &&
          ann.zip(exact).forall { case ((_, id, cos), (_, ecos)) =>
            math.abs(cos - ecos) < 1e-9 && s.vecs.contains(id) }
      }
    }
  }
}

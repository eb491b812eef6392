package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Graph}

/** Batch dedup and graph analytics in a closed loop alternating two
  * jobs, each timed to a complete (collected) result:
  *   - write class, `dedup`: `Dedup.ngramJaccardPairs` over a document
  *     table carrying planted near-duplicate copies, then
  *     `Graph.componentsFor` — the clusters a corpus rewrite drops;
  *   - serve class, `pagerank`: `Graph.pageRankIntWithRounds` over a
  *     seeded slice of the customer–supplier trade graph from
  *     orders ⋈ lineitem.
  * The only workload where the iterative loops and the dedup path do
  * most of the work; no router, no streaming, no index.
  */
object GraphWorkload {

  val Docs = 400
  val Copies = 60
  val MutationRate = 0.03
  val Customers = 300
  val Suppliers = 60
  val Orders = 1500
  val SupplierBase = 1000000L
  val Iterations = 5

  final case class Inputs(
      docs: Seq[(Long, String, String)],
      copies: Seq[(Long, Long)], // (copy, source)
      orders: Seq[(Long, Long, Int)], // (orderkey, custkey, day)
      lineitem: Seq[(Long, Long)], // (orderkey, suppkey)
      sliceFrom: Int,
      sliceDays: Int)

  def inputs(seed: Long): Inputs = {
    val r = new Gen.Rng(seed ^ 0x9a7b)
    val vocab = Gen.vocabulary(r, 4000)
    val cdf = Gen.zipfCdf(vocab.length, 0.9)
    val base = (1L to Docs).map { id =>
      (id, if (r.chance(0.5)) "en" else "de",
        Gen.sentence(r, vocab, cdf, 40 + r.int(40)))
    }
    val sources = mutable.LinkedHashSet.empty[Int]
    while (sources.size < Copies) sources += r.int(Docs)
    val copies = sources.toSeq.zipWithIndex.map { case (src, i) => (Docs + 1L + i, src + 1L) }
    val copyDocs = sources.toSeq.zipWithIndex.map { case (src, i) =>
      val (_, lang, text) = base(src)
      (Docs + 1L + i, lang, Gen.mutate(r, text, MutationRate, vocab))
    }
    val custCdf = Gen.zipfCdf(Customers, 0.8)
    val orders = (1L to Orders).map(o => (o, 1L + r.pick(custCdf), r.int(365)))
    val lineitem = orders.flatMap { case (o, _, _) =>
      Seq.fill(1 + r.int(5))((o, 1L + r.int(Suppliers)))
    }
    Inputs(base ++ copyDocs, copies, orders, lineitem, r.int(185), 180)
  }

  /** Inputs land as parquet tables, read back the way a job reads them. */
  private def tables(spark: SparkSession, in: Inputs, dir: String)
      : (DataFrame, DataFrame) = {
    def write(rows: Seq[Row], schema: StructType, name: String): DataFrame = {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val docs = write(in.docs.map { case (i, l, t) => Row(i, l, t) },
      StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("text", StringType))),
      "documents")
    val orders = write(in.orders.map { case (o, c, d) => Row(o, c, d) },
      StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_day", IntegerType))),
      "orders")
    val lines = write(in.lineitem.map { case (o, s) => Row(o, s) },
      StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_suppkey", LongType))), "lineitem")
    // trade graph, both directions (no dangling nodes): customer ↔ supplier
    val trade = orders
      .filter(col("o_day").between(in.sliceFrom, in.sliceFrom + in.sliceDays - 1))
      .join(lines, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("a"), (col("l_suppkey") + SupplierBase).as("b"))
    val edges = trade.select(col("a").as("src"), col("b").as("dst"))
      .union(trade.select(col("b").as("src"), col("a").as("dst")))
    (docs, edges)
  }

  /** dedup job: pairs, then components; both collected. */
  private def dedup(docs: DataFrame): (Array[(Long, Long)], Map[Long, Long]) = {
    val (pairs, pairRows) = Trace.span("dedup.pairs_s") {
      val p = Dedup.ngramJaccardPairs(docs).localCheckpoint(true)
      val rows = p.select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      Trace.count("pairs", rows.length.toDouble)
      (p, rows)
    }
    val comps = Trace.span("graph.cc_s") {
      Graph.componentsFor(docs, "doc_id", pairs, "doc_a", "doc_b").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    (pairRows, comps)
  }

  private def pagerank(edges: DataFrame): (Map[Long, Long], Int) =
    Trace.span("graph.pagerank_s") {
      val (ranks, rounds) = Graph.pageRankIntWithRounds(edges, Iterations)
      Trace.count("rounds", rounds.toDouble)
      (ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    }

  /** Driver-side union-find: node → smallest id of its component. */
  def components(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  /** Driver-side replay of the integer PageRank recurrence. */
  def replayPageRank(edges: Seq[(Long, Long)], rounds: Int,
      num: Long = 85, den: Long = 100, scale: Long = 1000000L): Map[Long, Long] = {
    val e = edges.distinct
    val outdeg = e.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
    val base = scale * (den - num) / den
    var mass = nodes.map(_ -> scale).toMap
    (1 to rounds).foreach { _ =>
      val contrib = e.groupMapReduce(_._2) { case (s, _) =>
        (mass(s) * num) / (den * outdeg(s)) }(_ + _)
      mass = nodes.map(n => n -> (base + contrib.getOrElse(n, 0L))).toMap
    }
    mass
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String,
      run: Run): Unit = {
    val in = inputs(seed)
    var docs: DataFrame = null
    var edges: DataFrame = null
    (1 to Main.SetupReps).foreach { rep =>
      run.timed(run.setups) {
        val (d, e) = tables(spark, in, s"$work/graph-$rep")
        docs = d; edges = e
      }
      if (rep == 1) {
        val t0 = System.nanoTime()
        Trace.beginWarmup()
        dedup(docs); pagerank(edges)
        run.warmup = (System.nanoTime() - t0) / 1e9
      }
    }
    val edgeRows = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docIds = in.docs.map(_._1)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      Trace.beginOp()
      run.op("dedup job") {
        val (pairs, comps) = Trace.span("op.write_s")(run.timed(run.writes)(dedup(docs)))
        run.records += in.docs.length
        run.check("component of every doc = driver union-find",
          comps == components(docIds, pairs.toSeq))
        run.check("every planted copy shares its source's component",
          in.copies.forall { case (c, s) => comps(c) == comps(s) })
      }
      Trace.beginOp()
      run.op("pagerank job") {
        val (ranks, rounds) =
          Trace.span("op.serve_s")(run.timed(run.serves)(pagerank(edges)))
        run.check("pagerank = driver replay of the integer recurrence",
          ranks == replayPageRank(edgeRows, rounds))
      }
    }
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}

import graft.functions.MqttFunctions

/** Generator tests: `python3 perfbench/test_generator.py` runs this main.
  * Exits non-zero on the first failed check.
  */
object GenTest {

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** Every generated input of a seed, serialized. */
  def inputBytes(seed: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val r = new Gen.Rng(seed)
    (0 until 3).foreach(_ => out.write(Gen.bytesOf(Gen.ingestBatch(r, 500))))
    val c = RetrievalWorkload.corpus(seed)
    out.write(c.vocab.mkString(" ").getBytes(UTF_8))
    c.centers.foreach(v => out.write(v.mkString(",").getBytes(UTF_8)))
    val g = GraphWorkload.inputs(seed)
    out.write(g.toString.getBytes(UTF_8))
    out.toByteArray
  }

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def parse(s: String) =
    try Option(json.readTree(s)).filterNot(_.isMissingNode)
    catch { case _: Exception => None }

  /** Rows one message lands, worked out from the ingest config alone:
    * first-match over the route filters, then each route's predicates.
    */
  def oracleRows(topic: String, payload: String): Map[String, Long] = {
    val node = parse(payload)
    val filters = Seq("sensors/+/temperature", "sensors/#", "devices/#")
    filters.indexWhere(f => MqttFunctions.topicMatches(f, topic)) match {
      case 0 => node.filter(n => n.has("celsius") && !n.get("celsius").isNull)
        .fold(Map.empty[String, Long])(_ => Map("temperature" -> 1L))
      case 1 => node.fold(Map.empty[String, Long]) { n =>
        val readings = Option(n.get("readings")).fold(0L)(_.size.toLong)
        val alert = if (n.has("alert")) 1L else 0L
        Map("sensor_readings" -> readings, "sensor_events" -> alert)
          .filter(_._2 > 0)
      }
      case 2 => node.fold(Map.empty[String, Long])(_ => Map("iot_metrics" -> 1L))
      case _ => Map("iot_raw" -> 1L)
    }
  }

  def main(args: Array[String]): Unit = {
    var failed = 0
    def check(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failed += 1
    }
    check("same seed gives byte-identical inputs",
      sha(inputBytes(7)) == sha(inputBytes(7)))
    check("another seed gives different inputs",
      sha(inputBytes(7)) != sha(inputBytes(8)))

    val b = Gen.ingestBatch(new Gen.Rng(3), 20000)
    val oracle = b.messages.toSeq
      .flatMap(m => oracleRows(m.topic, new String(m.payload, UTF_8)))
      .groupMapReduce(_._1)(_._2)(_ + _)
    check(s"expected routing counts match the topic model: ${b.expected}",
      Gen.IngestTables.forall(t => b.expected(t) == oracle.getOrElse(t, 0L)))
    val shares = b.kinds.groupMapReduce(identity)(_ => 1.0)(_ + _)
      .map { case (k, n) => k -> n / b.kinds.length }
    check(s"topic mix within 0.02 of its declared shares: $shares",
      Gen.TopicMix.forall { case (k, p) => math.abs(shares(k) - p) < 0.02 })
    check("every table receives rows, including the unmatched passthrough",
      Gen.IngestTables.forall(t => b.expected(t) > 0))
    check("some payloads are invalid JSON",
      b.messages.exists(m => parse(new String(m.payload, UTF_8)).isEmpty))
    val days = b.messages.map(m => m.time.toInstant.toString.take(10)).distinct
    check(s"timestamps span several dates: ${days.sorted.mkString(",")}",
      days.length >= 3)
    if (failed > 0) sys.exit(1)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import graft.model.Message

/** Seeded input generators. The same seed gives byte-identical inputs;
  * the engine only ever sees what these produce.
  */
object Gen {

  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def long(n: Long): Long = r.nextLong(n)
    def double(): Double = r.nextDouble()
    def gauss(): Double = {
      // Box–Muller on two uniforms: SplittableRandom has no nextGaussian
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def chance(p: Double): Boolean = r.nextDouble() < p
    /** Index drawn from a cumulative distribution. */
    def pick(cdf: Array[Double]): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * cdf.last)
      if (i >= 0) i else -i - 1
    }
  }

  /** Cumulative Zipf(s) weights over n ranks. */
  def zipfCdf(n: Int, s: Double): Array[Double] =
    (1 to n).map(k => 1.0 / math.pow(k, s)).scanLeft(0.0)(_ + _).tail.toArray

  // ------------------------------------------------------------ ingest

  /** Sink tables of the ingest config, in report order. */
  val IngestTables: Seq[String] =
    Seq("temperature", "sensor_readings", "sensor_events", "iot_metrics",
      "iot_raw")

  /** Topic families and their share of the stream. `temperature`
    * overlaps the `sensors/#` multi-record route and must win first-match;
    * `unmatched` topics fall through to the `iot_raw` passthrough.
    */
  val TopicMix: Seq[(String, Double)] = Seq(
    "temperature" -> 0.28, "batch" -> 0.27, "status" -> 0.08,
    "device" -> 0.20, "unmatched" -> 0.17)
  private val mixCdf = TopicMix.map(_._2).scanLeft(0.0)(_ + _).tail.toArray
  private val sensorCdf = zipfCdf(500, 1.2)
  /** 2026-03-01T00:00:00Z; message times span three dates from here. */
  private val BaseMs = 1772323200000L
  private val SpanMs = 3L * 86400000L

  final case class IngestBatch(
      messages: Array[Message],
      kinds: Array[String],
      expected: Map[String, Long])

  private def invalidJson(r: Rng, valid: String): String = r.int(3) match {
    case 0 => valid.dropRight(1) // truncated object
    case 1 => valid.replace("{", "").replace("}", "").replace("\"", "")
    case _ => ""
  }

  private def num(r: Rng, lo: Int, hi: Int): String =
    ((lo * 100 + r.int((hi - lo) * 100)) / 100.0).toString

  /** One message and the rows it must land, per table. */
  def message(r: Rng): (Message, String, Map[String, Long]) = {
    val kind = TopicMix(r.pick(mixCdf))._1
    val sensor = 1 + r.pick(sensorCdf)
    val (topic, payload, rows) = kind match {
      case "temperature" =>
        val valid = s"""{"celsius":${num(r, -20, 45)}}"""
        r.int(20) match {
          case n if n < 17 => (s"sensors/s$sensor/temperature", valid,
            Map("temperature" -> 1L))
          case 17 => (s"sensors/s$sensor/temperature",
            s"""{"humidity":${num(r, 0, 100)}}""", Map.empty[String, Long])
          case _ => (s"sensors/s$sensor/temperature", invalidJson(r, valid),
            Map.empty[String, Long])
        }
      case "batch" =>
        val n = 1 + r.int(4)
        val readings = (0 until n).map(_ =>
          s"""{"sensor_id":${1 + r.pick(sensorCdf)},"value":${num(r, 0, 100)}}""")
        val alert = r.chance(0.2)
        val valid = s"""{"readings":[${readings.mkString(",")}]""" +
          (if (alert) s""","alert":"threshold"}""" else "}")
        if (r.chance(0.9))
          (s"sensors/s$sensor/batch", valid,
            Map("sensor_readings" -> n.toLong) ++
              (if (alert) Map("sensor_events" -> 1L) else Map.empty))
        else (s"sensors/s$sensor/batch", invalidJson(r, valid),
          Map.empty[String, Long])
      case "status" =>
        (s"sensors/s$sensor/status", """{"alert":"low_battery"}""",
          Map("sensor_events" -> 1L))
      case "device" =>
        val d = 1 + r.int(200)
        val valid = r.int(3) match {
          case 0 => s"""{"temperature":${num(r, -10, 40)}}"""
          case 1 => s"""{"value":${num(r, 0, 1000)}}"""
          case _ => "{}"
        }
        if (r.chance(0.85)) (s"devices/d$d/metrics", valid, Map("iot_metrics" -> 1L))
        else (s"devices/d$d/metrics", invalidJson(r, valid), Map.empty[String, Long])
      case _ =>
        val topic = r.int(3) match {
          case 0 => s"home/room${r.int(20)}/light"
          case 1 => s"logs/app${r.int(5)}/line"
          case _ => s"sensorsx/s$sensor/temperature" // near-miss of sensors/#
        }
        val payload = if (r.chance(0.5)) s"""{"on":${r.chance(0.5)}}""" else "text line"
        (topic, payload, Map("iot_raw" -> 1L))
    }
    val time = new Timestamp(BaseMs + r.long(SpanMs))
    (Message(topic, payload.getBytes(UTF_8), r.int(3), false, time), kind, rows)
  }

  /** `n` messages with the per-table row counts they must land. */
  def ingestBatch(r: Rng, n: Int): IngestBatch = {
    val msgs = Array.fill(n)(message(r))
    val expected = msgs.flatMap(_._3).groupMapReduce(_._1)(_._2)(_ + _)
    IngestBatch(msgs.map(_._1), msgs.map(_._2),
      IngestTables.map(t => t -> expected.getOrElse(t, 0L)).toMap)
  }

  def bytesOf(b: IngestBatch): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    b.messages.foreach { m =>
      out.write(s"${m.topic}\u0000${m.qos}\u0000${m.time.getTime}\u0000".getBytes(UTF_8))
      out.write(m.payload)
      out.write('\n')
    }
    out.toByteArray
  }

  // ------------------------------------------------------------ text

  /** A seeded vocabulary of letter-only words (ranked by frequency). */
  def vocabulary(r: Rng, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.int(6)
      seen += (0 until len).map(_ => ('a' + r.int(26)).toChar).mkString
    }
    seen.toArray
  }

  def sentence(r: Rng, vocab: Array[String], cdf: Array[Double], words: Int): String =
    (0 until words).map(_ => vocab(r.pick(cdf))).mkString(" ")

  // ------------------------------------------------------------ vectors

  val Dim = 16

  /** Unit-ish vectors around `centers`: every component stays inside
    * (-1, 1), the range the integer-lattice IVF build assumes.
    */
  def centers(r: Rng, k: Int): Array[Array[Double]] =
    Array.fill(k)(unit(Array.fill(Dim)(r.gauss())))

  def vector(r: Rng, centers: Array[Array[Double]]): Array[Double] = {
    val c = centers(r.int(centers.length))
    unit(c.map(x => x + 0.45 * r.gauss())).map(_ * 0.98)
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  // ------------------------------------------------------------ graph

  /** Near-duplicate of `text`: each word replaced with probability `rate`. */
  def mutate(r: Rng, text: String, rate: Double, vocab: Array[String]): String =
    text.split(" ").map(w => if (r.chance(rate)) vocab(r.int(vocab.length)) else w)
      .mkString(" ")
}

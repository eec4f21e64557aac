package graft

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s stdout record must parse from the last 2,000 characters
  * of the run log: plain-decimal numbers (no exponent, no NaN), one line,
  * short enough to sit whole inside that tail. */
class BenchRecordSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)

  /** Every number token's source text, from a strict parse. */
  private def numberTexts(json: String): Seq[String] = {
    val p = mapper.getFactory.createParser(json)
    val out = Seq.newBuilder[String]
    var t = p.nextToken()
    while (t != null) {
      if (t == JsonToken.VALUE_NUMBER_INT || t == JsonToken.VALUE_NUMBER_FLOAT) out += p.getText
      t = p.nextToken()
    }
    out.result()
  }

  test("plain decimals for large, small and non-finite values") {
    assert(Bench.num(5.62778572E7) == "56277857.2")
    assert(Bench.num(1.659412802E8) == "165941280.2")
    assert(Bench.num(1.0E12) == "1000000000000")
    assert(Bench.num(100.0) == "100")
    assert(Bench.num(0.0) == "0")
    assert(Bench.num(1.0E-5) == "0.00001")
    assert(Bench.num(-3.25) == "-3.25")
    assert(Bench.num(Double.NaN) == "null")
    assert(Bench.num(Double.PositiveInfinity) == "null")
  }

  test("the compact record parses strictly from a 2,000-character sbt log tail") {
    val results = (1 to 177).map(i => (f"q$i%03d_synthetic_query_$i", 0.1234 * i, 1000L, Seq(0.1234 * i)))
    val values = Seq(
      "forward_msgs_per_sec" -> 74411.9, "http2_forward_msgs_per_sec" -> 5.02744E7,
      "http2_forward_msgs_per_sec_median_clean" -> 4.93602E7,
      "queue_stream_msgs_per_sec_median_clean" -> 5.01775E7,
      "wire_bytes_per_sec_1k" -> 5.62778572E7, "wire_bytes_per_sec_16k" -> 1.659412802E8,
      "stream_msgs_per_sec" -> 6.83548E7, "queue_stream_msgs_per_sec" -> 4.36401E7,
      "queue_stream_ratio" -> 0.6496, "sustained_stream_msgs_per_sec" -> 1.0E10,
      "sustained_stream_last_third" -> 2.5E7, "sustained_queue_msgs_per_sec" -> 5.46363E7,
      "sustained_queue_last_third" -> 6.01922E7, "probe_base_sec" -> 0.486,
      "sanity_probe_sec" -> Double.NaN, "sanity_probe_end_sec" -> 0.4226,
      "code_cache_mb_end" -> 164.7)
    val legs = values.map { case (k, v) => k -> Bench.num(v) } ++
      Seq("stream_msgs_per_sec_median_clean" -> "null", "measured_runs" -> "3")
    val line = Bench.compactRecord(results, "target/bench_out.json", "/data/sf0.1", legs)
    assert(!line.contains("\n"))

    val log = (1 to 300).map(i =>
      s"[error] 26/08/18 11:11:$i WARN DAGScheduler: Failed to cancel job group $i. " +
        "Cannot find active jobs for it.") ++
      Seq("[info] " + line,
        "[success] Total time: 718 s (11:58), completed Aug 18, 2026, 11:12:24 AM")
    val tail = log.mkString("", "\n", "\n").takeRight(2000)
    val record = tail.split("\n").filter(_.startsWith("[info] {")).lastOption
      .map(_.stripPrefix("[info] "))
    assert(record.contains(line), "the record did not survive the log tail whole")

    val tree = mapper.readTree(record.get)
    assert(tree.get("n_queries").asInt() == 177)
    assert(tree.get("failed").asInt() == 0)
    assert(tree.get("wire_bytes_per_sec_1k").decimalValue()
      .compareTo(new java.math.BigDecimal("56277857.2")) == 0)
    assert(tree.get("value").decimalValue()
      .compareTo(new java.math.BigDecimal("1943.9202")) == 0)
    assert(tree.get("sanity_probe_sec").isNull, "NaN must print as null")
    val nums = numberTexts(record.get)
    assert(nums.size >= 20)
    assert(nums.forall(n => !n.exists(c => c == 'e' || c == 'E')), nums.mkString(", "))
  }
}

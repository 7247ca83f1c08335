package perfbench

import com.fasterxml.jackson.core.StreamReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper

/** The benchmark's result line and the strict parse that checks it. */
object Json {
  /** Rejects trailing tokens and duplicate keys, like `Bench.validateProtocolLine`. */
  val strictMapper: JsonMapper = JsonMapper.builder()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .build()

  final case class Metric(name: String, value: Double, unit: String)

  def quote(s: String): String = strictMapper.writeValueAsString(s)

  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String = {
    val ms = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
      s"${quote(m.name)}:{\"value\":${m.value},\"unit\":${quote(m.unit)}}"
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }

  /** Parse `line` strictly and check it has exactly the contract's keys and
    * exactly the `expected` (name, unit) metrics, each a JSON number. */
  def validate(line: String, expected: Seq[(String, String)]): Unit = {
    val node = strictMapper.readTree(line)
    require(node.isObject, "result is not a JSON object")
    val keys = fieldNames(node)
    require(keys == Seq("correct", "attempted", "failed", "metrics"),
      s"result keys are ${keys.mkString(",")}")
    require(node.get("correct").isBoolean, "correct is not a boolean")
    require(node.get("attempted").canConvertToExactIntegral && node.get("attempted").asLong >= 1,
      "attempted is not a whole number >= 1")
    require(node.get("failed").canConvertToExactIntegral && node.get("failed").asLong >= 0,
      "failed is not a whole number >= 0")
    val metrics = node.get("metrics")
    require(metrics.isObject, "metrics is not an object")
    require(fieldNames(metrics).toSet == expected.map(_._1).toSet,
      s"metrics are ${fieldNames(metrics).sorted.mkString(",")}, expected ${expected.map(_._1).sorted.mkString(",")}")
    expected.foreach { case (name, unit) =>
      val m = metrics.get(name)
      require(fieldNames(m) == Seq("value", "unit"), s"$name keys are ${fieldNames(m).mkString(",")}")
      require(m.get("value").isNumber, s"$name value is not a number")
      require(m.get("unit").isTextual && m.get("unit").asText == unit, s"$name unit is not $unit")
    }
  }

  def fieldNames(node: JsonNode): Seq[String] = {
    val b = Seq.newBuilder[String]
    val it = node.fieldNames()
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** (name, unit) pairs of one metric list in BENCHMARK.json. */
  def specMetrics(specPath: String, list: String): Seq[(String, String)] = {
    val arr = strictMapper.readTree(new java.io.File(specPath)).path(list)
    require(arr.isArray, s"$specPath has no $list list")
    (0 until arr.size).map(i => arr.get(i).path("name").asText -> arr.get(i).path("unit").asText)
  }
}

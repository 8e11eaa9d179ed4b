package perfbench

import scala.collection.immutable.ListMap

import org.json4s._
import org.json4s.jackson.JsonMethods

case class Metric(value: Double, unit: String)

/** The result line a run prints last: `correct`, `attempted`, `failed` and
  * the metrics by name. Written and read back with json4s.
  */
case class Summary(correct: Boolean, attempted: Int, failed: Int,
    metrics: ListMap[String, Metric]) {

  def toJson: JValue = JObject(
    "correct" -> JBool(correct),
    "attempted" -> JInt(attempted),
    "failed" -> JInt(failed),
    "metrics" -> JObject(metrics.toList.map { case (k, m) =>
      k -> JObject("value" -> JDouble(m.value), "unit" -> JString(m.unit))
    }))

  def render: String = JsonMethods.compact(JsonMethods.render(toJson))
}

object Summary {
  def parse(s: String): Summary = fromJson(JsonMethods.parse(s))

  def fromJson(j: JValue): Summary = {
    implicit val formats: Formats = DefaultFormats
    val metrics = (j \ "metrics") match {
      case JObject(fields) => ListMap(fields.map { case (k, v) =>
        k -> Metric((v \ "value").extract[Double], (v \ "unit").extract[String])
      }: _*)
      case other => throw new IllegalArgumentException(s"metrics is not an object: $other")
    }
    Summary((j \ "correct").extract[Boolean], (j \ "attempted").extract[Int],
      (j \ "failed").extract[Int], metrics)
  }
}

/** Helpers to build json4s values for the trace file. */
object Js {
  def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)
  def obj(fields: (String, JValue)*): JValue = JObject(fields.toList)
  def write(v: JValue, f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, JsonMethods.pretty(JsonMethods.render(v)))
  }
}

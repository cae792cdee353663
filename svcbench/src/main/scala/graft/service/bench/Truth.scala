package graft.service.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.service.JsonParse

/** Ground truth of one generated SAR file, as `gen_sar.py` writes it. */
final case class MetricTruth(count: Long, min: Double, max: Double,
    sum: Double, first: Double)

final case class SectionTruth(rows: Long, deviceScoped: Boolean,
    devices: Seq[String], metrics: Map[String, Map[String, MetricTruth]]) {
  /** Per-device sample count (rows of one device's series). */
  def samples: Long = rows / math.max(1, devices.length)
}

final case class Truth(rows: Long, firstDate: String,
    restarts: Seq[String], textBytes: Long,
    sections: Map[String, SectionTruth]) {
  def section(header: String): SectionTruth = sections(header)
}

/** One input file of a workload: where it is, who owns it, what it holds. */
final case class InputFile(tenant: String, name: String, path: String,
    truth: Truth)

object Truth {
  private def num(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  def parse(text: String): Truth = {
    val m = obj(JsonParse.parse(text))
    val sections = obj(m("sections")).map { case (h, s0) =>
      val s = obj(s0)
      h -> SectionTruth(num(s("rows")).toLong,
        s("device_scoped").asInstanceOf[Boolean],
        list(s("devices")).map(_.toString),
        obj(s("metrics")).map { case (dev, ms) =>
          dev -> obj(ms).map { case (metric, t0) =>
            val t = obj(t0)
            metric -> MetricTruth(num(t("count")).toLong, num(t("min")),
              num(t("max")), num(t("sum")), num(t("first")))
          }
        })
    }
    Truth(num(m("rows")).toLong, m("first_date").toString,
      list(m("restarts")).map(_.toString), num(m("text_bytes")).toLong,
      sections)
  }

  def load(path: String): Truth =
    parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8))

  def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  def list(v: Any): List[Any] = v.asInstanceOf[List[Any]]
}

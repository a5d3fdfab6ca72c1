package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Path
import scala.jdk.CollectionConverters._

object pct {
  /** The `p`-th percentile by linear interpolation between closest ranks;
    * 0 for no samples. */
  def apply(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

object mean {
  def apply(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The catalog goldens: `{"<query>": {"rows": n, "digest": "<hex>"|null}}`. */
object Goldens {
  def load(p: Path): Map[String, CatalogBench.Golden] =
    new ObjectMapper().readTree(p.toFile).fields.asScala.map { e =>
      val d = e.getValue.get("digest")
      e.getKey -> CatalogBench.Golden(e.getValue.get("rows").asLong,
        if (d == null || d.isNull) None else Some(d.asText))
    }.toMap
}

package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The metrics BENCHMARK.json declares, in its order: untraced runs
  * (`--trace 0`) print every end-to-end metric, traced runs every
  * per-layer one, on every workload. */
final case class Metrics(endToEnd: Seq[Metrics.Def], perLayer: Seq[Metrics.Def])

object Metrics {
  final case class Def(name: String, unit: String)

  def load(benchmarkJson: Path): Metrics = {
    val decl = Json.read(Files.readString(benchmarkJson))
    def defs(key: String) = decl.get(key).elements().asScala.toSeq
      .map(n => Def(n.get("name").asText, n.get("unit").asText))
    Metrics(defs("end_to_end"), defs("per_layer"))
  }
}

package perfbench

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipeline.ForageConfig

/** The forage job's inputs as `forage_inputs.py` generated them from the
  * seed: the `ForageConfig` the job receives, and the output it must
  * produce. */
final case class ForageInputs(
    cfg: ForageConfig,
    expectedDates: Seq[LocalDate],
    expectedCombinedRows: Long)

object ForageInputs {
  def read(path: String): ForageInputs = {
    val j = new ObjectMapper().readTree(new java.io.File(path))
    def date(f: String) = LocalDate.parse(j.get(f).asText)
    val zones = j.get("zones").elements().asScala
      .map(z => z.get(0).asText -> z.get(1).asText).toSeq
    ForageInputs(
      ForageConfig(
        ndviPath = j.get("ndvi").asText, smPath = j.get("sm").asText,
        preciPath = j.get("preci").asText, outputDir = j.get("output_dir").asText,
        anchor = date("anchor"), currentDate = date("current_date"),
        dataLatencyDays = j.get("latency_days").asInt, zones = zones),
      j.get("expected_dates").elements().asScala.map(d => LocalDate.parse(d.asText)).toSeq,
      j.get("expected_combined_rows").asLong)
  }
}

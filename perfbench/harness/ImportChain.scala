package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{TableIO, TrainOnce}

/** The import → quality gate → refresh chain of [[ImportAndRefresh]],
  * fed from a given feed and existing-table snapshot instead of the
  * built-in demo inputs. `ImportAndRefresh.chain` builds its JobSpecs
  * around the demo feed, so this is a copy of them: the job bodies are
  * the program's own (`GisaidImport.run`, `ImportAndRefresh.qualityGate`,
  * `SpectrumRefresh.run`) but the list itself does not follow later
  * edits to `ImportAndRefresh.chain`. Lives in `graft.jobs` because the
  * quality gate is package-private. */
object BenchImportChain {

  def jobs(spark: SparkSession, feedDir: String, feedPath: String, existing: DataFrame,
      tablesDir: String, viewsDir: String,
      onReport: GisaidImport.ImportReport => Unit): Seq[JobSpec] = Seq(
    JobSpec("gisaid_import",
      fingerprint = () => TrainOnce.sourceFingerprint(spark, feedDir),
      run = () => onReport(GisaidImport.run(spark, feedPath, existing,
        TableIO.read(spark, s"$tablesDir/sequence_identifier"), tablesDir))),
    JobSpec("quality_gate",
      fingerprint = () => TrainOnce.sourceFingerprint(spark, tablesDir),
      run = () => ImportAndRefresh.qualityGate(spark, tablesDir)),
    JobSpec("spectrum_refresh",
      fingerprint = () => TrainOnce.sourceFingerprint(spark, tablesDir),
      run = () => SpectrumRefresh.run(spark, tablesDir, viewsDir)))
}

package graft.etl

import graft.harness.Harness

/** The `python etl.py` equivalent (ref E1): run the full pipeline over a
  * fixtures directory and overwrite-load the four tables as parquet.
  * (The JDBC flavor of the load — the exact `to_sql(if_exists='replace')`
  * analogue — is `Sinks.overwriteJdbc`, called programmatically; this
  * entry point is parquet-only since the harness ships no database.)
  *
  *   sbt "runMain graft.etl.EtlMain [fixturesDir] [outDir]"
  */
object EtlMain {
  def main(args: Array[String]): Unit = Harness.withSession { spark =>
    val fixtures = if (args.length > 0) args(0) else EtlPipeline.defaultDir
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-etl-out"
    graft.functions.GraftExtensions.register(spark)

    val result = EtlPipeline.runDefault(spark, fixtures)
    Sinks.overwriteParquet(result, outDir)
    println(s"[etl] patients=${result.patients.count()} " +
      s"encounters=${result.encounters.count()} " +
      s"diagnoses=${result.diagnoses.count()} logs=${result.logs.count()} " +
      s"→ $outDir")
  }
}

package graft

/** Operational entry point — the spark-submit shape of the north rule:
  *
  *   spark-submit --class graft.RunPipeline <jar> <sfDir> <outDir>
  *
  * Runs the Dataset-native multi-municipality pipeline (AppRun.runMulti)
  * over the deterministic SynthMuni cadastre derived from <sfDir>/events,
  * with EVERY stage checkpointed to <outDir> as a fingerprinted parquet
  * table carrying per-partition lineage; task documents and the metrics
  * table land as parquet sinks. Re-running with the same inputs resumes
  * from the manifests (zero stages recomputed); killing it mid-DAG and
  * re-running resumes at the first missing stage — the reference's
  * stop/resume lifecycle (app.py:581-624) as idempotent table writes.
  * Prints ONE JSON summary line.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Bench.makeSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val (cons, parcels, addrs) = layers.SynthMuni.inputs(spark, sfDir)
    val cp = new pipeline.CheckpointedPipeline(spark, outDir)
    val fp = s"synthmuni:$sfDir"
    val mr = pipeline.AppRun.runMulti(spark, cons, parcels, addrs,
      layers.SynthMuni.munOf, checkpoint = Some((cp, fp)))
    // sinks: task documents + metrics as parquet tables (the "Iceberg"
    // analog of this sandbox), written distributed — no driver collect
    mr.taskDocs.toDF("mun", "label", "xml")
      .write.mode("overwrite").partitionBy("mun").parquet(s"$outDir/task_docs")
    import spark.implicits._
    spark.createDataset(mr.metrics).toDF("mun", "key", "value")
      .write.mode("overwrite").parquet(s"$outDir/metrics")
    // the reference's actual artifact flavor: one <label>.osm.gz per task
    // (kept alongside the scale-friendly parquet table). Stale files from a
    // previous run with different inputs are cleared first — the parquet
    // sinks overwrite, and the file sink must match that contract.
    val tasksDir = java.nio.file.Paths.get(s"$outDir/tasks")
    if (java.nio.file.Files.exists(tasksDir)) {
      val old = java.nio.file.Files.list(tasksDir)
      try old.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".osm.gz"))
        .foreach(java.nio.file.Files.delete)
      finally old.close()
    }
    sources.OsmOut.writeTaskFiles(
      mr.taskDocs.map(d => (d.label, d.xml)), s"$outDir/tasks")
    val nDocs = spark.read.parquet(s"$outDir/task_docs").count()
    val sec = (System.nanoTime() - t0) / 1e9
    val muns = mr.metrics.map(_._1).distinct.size
    println(f"""{"job":"run_pipeline","sf":"$sfDir","out":"$outDir","municipalities":$muns,"task_docs":$nDocs,"computed_stages":${cp.computedStages},"sec":$sec%.2f}""")
    CacheBin.drain()
    spark.stop()
  }
}

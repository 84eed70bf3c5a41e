package perfbench

/** The per-layer metrics of one traced pass, named after the engine's
  * modules. A layer the workload never entered reads zero. */
object Layers {

  val OpKinds: Seq[String] =
    Seq("clean_columns", "clean_rows", "merge_table_versions", "create_sensitive_tier", "gate")

  def report(tr: Trace, w: Workload): Map[String, Double] = {
    val (accs, ops) = tr.result()
    val none = new Acc
    def a(name: String): Acc = accs.getOrElse(name, none)
    def s(ns: Long): Double = ns / 1e9
    val m = Map.newBuilder[String, Double]
    for (e <- OpKinds.take(4)) m += s"api.${e}_s" -> s(a(s"api.$e").wallNs)
    m += "naming.plan_s" -> s(a("naming").wallNs)
    m += "transform.build_s" -> s(a("transform").wallNs)
    m += "profiling.classify_s" -> s(a("profiling").wallNs)
    m += "profiling.jobs" -> a("profiling").jobs.toDouble
    m += "profiling.rows_scanned" -> a("profiling").inRecords.toDouble
    m += "audit.sql_s" -> s(a("audit.sql").wallNs)
    m += "audit.plan_s" -> s(a("audit.plan").wallNs)
    m += "sink.write_s" -> s(a("sink").wallNs)
    m += "sink.bytes_per_input_byte" ->
      (if (a("sink").inBytes > 0) a("sink").outBytes.toDouble / a("sink").inBytes else 0.0)
    m += "queries.build_s" -> s(a("queries.build").wallNs)
    m += "queries.build_jobs" -> a("queries.build").jobs.toDouble
    m += "queries.execute_s" -> s(a("queries.execute").wallNs)
    val (trig, wall, batches) = w match {
      case r: RegistrySlice => (r.streamTriggerS, r.streamWallS, r.streamBatches)
      case _ => (0.0, 0.0, 0L)
    }
    m += "streaming.trigger_s" -> trig
    m += "streaming.batches" -> batches.toDouble
    m += "streaming.scaffold_s" -> (wall - trig)

    def spark(prefix: String, kinds: Seq[String]): Unit = {
      val xs = kinds.map(k => a(s"op.$k"))
      val tl = ops.filter(o => kinds.contains(o.kind))
      def sum(f: Acc => Long): Double = xs.map(f).sum.toDouble
      m += s"$prefix.jobs" -> sum(_.jobs)
      m += s"$prefix.task_cpu_s" -> sum(_.taskCpuNs) / 1e9
      m += s"$prefix.codegen_compile_s" -> sum(_.compileNs) / 1e9
      m += s"$prefix.pre_job_s" -> tl.map(_.preJobS).sum
      m += s"$prefix.driver_only_s" -> tl.map(_.driverOnlyS).sum
      val run = sum(_.taskRunMs) / 1e3
      m += s"$prefix.stages" -> sum(_.stages)
      m += s"$prefix.tasks" -> sum(_.tasks)
      m += s"$prefix.task_run_s" -> run
      m += s"$prefix.cpu_share" -> (if (run > 0) sum(_.taskCpuNs) / 1e9 / run else 0.0)
      m += s"$prefix.gc_s" -> sum(_.gcMs) / 1e3
      m += s"$prefix.shuffle_write_bytes" -> sum(_.shuffleWrite)
      m += s"$prefix.spill_bytes" -> sum(_.spill)
      m += s"$prefix.output_bytes" -> sum(_.outBytes)
      m += s"$prefix.planning_s" -> sum(_.planningMs) / 1e3
      m += s"$prefix.codegen_compiles" -> sum(_.compiles)
    }
    spark("spark", OpKinds)
    OpKinds.foreach(k => spark(s"spark.$k", Seq(k)))
    m.result()
  }
}

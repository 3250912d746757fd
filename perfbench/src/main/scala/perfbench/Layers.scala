package perfbench

/** Folds the traced run's per-op counters into the per-layer metrics. */
object Layers {
  val CdcKinds: Seq[String] = Seq("upsert", "apply_cdc", "delete_where", "vacuum")
  /** Ops that commit changed rows. */
  private val ChangeKinds = Set("upsert", "apply_cdc", "delete_where")

  private def perOp(recs: Seq[Rec], key: String): Double =
    if (recs.isEmpty) 0.0 else recs.map(_.layer.get(key)).sum / recs.size

  private def sum(recs: Seq[Rec], key: String): Double = recs.map(_.layer.get(key)).sum

  def compute(w: Workload, traced: Seq[Rec], opsPerSec: Double, tracedOpsPerSec: Double)
      : Map[String, Double] = {
    val ok = traced.filter(r => r.ok && r.layer.isDefined)
    val scanOps = ok.filter(_.out.planMs > 0) // only the scan workload's reads time planning
    val filterOps = scanOps.filter(_.out.matchedRows >= 0)
    val commitOps = ok.filter(r => ChangeKinds.contains(r.kind))
    val skipped = sum(ok, "skipped_chunks")
    val decoded = sum(ok, "decoded_chunks")
    val filterScanRows = sum(filterOps, "scan_rows")
    val changedRows = commitOps.map(_.rows).sum.toDouble
    val carried = commitOps.flatMap(_.layer.get.get("files_carried"))
    val m = Map(
      "sources.scan.pages_read_per_op" -> perOp(ok, "pages_read"),
      "sources.scan.chunk_skip_frac" -> (if (skipped + decoded > 0) skipped / (skipped + decoded) else 0.0),
      "sources.scan.blocks_skipped_per_op" -> perOp(ok, "skipped_blocks"),
      "sources.scan.useful_row_frac" ->
        (if (filterScanRows > 0) filterOps.map(_.out.matchedRows).sum / filterScanRows else 0.0),
      "sources.plan_ms" -> (if (scanOps.isEmpty) 0.0 else Bench.median(scanOps.map(_.out.planMs))),
      "sources.footer_opens_per_op" -> perOp(ok, "footer_opens"),
      "sources.driver_ms_per_op" -> perOp(ok, "driver_ms"),
      "sources.commit.rewrite_rows_per_changed_row" ->
        (if (changedRows > 0) sum(commitOps, "new_rows") / changedRows else 0.0),
      "sources.commit.files_carried_per_op" ->
        (if (carried.isEmpty) 0.0 else carried.sum / carried.size),
      "spark.task_ms_per_op" -> perOp(ok, "task_ms"),
      "spark.jobs_per_op" -> perOp(ok, "jobs"),
      "spark.sql_execs_per_op" -> perOp(ok, "sql_execs"),
      "spark.stages_per_op" -> perOp(ok, "stages"),
      "spark.shuffle_read_bytes_per_op" -> perOp(ok, "shuffle_read"),
      "spark.shuffle_write_bytes_per_op" -> perOp(ok, "shuffle_write"),
      "spark.gc_ms_per_op" -> perOp(ok, "gc_ms"),
      "spark.input_bytes_per_op" -> perOp(ok, "input_bytes"),
      "spark.output_bytes_per_op" -> perOp(ok, "output_bytes"),
      "operators.fixture_ms" -> perOp(ok, "fixture_ms"),
      "trace.overhead_frac" -> (if (opsPerSec > 0) (opsPerSec - tracedOpsPerSec) / opsPerSec else 0.0))
    val byKind = CdcKinds.flatMap { k =>
      val rs = ok.filter(_.kind == k)
      Seq(s"operators.op_ms.$k" -> Bench.median(rs.map(_.ms)),
        s"spark.jobs_per_op.$k" -> perOp(rs, "jobs"),
        s"sources.driver_ms_per_op.$k" -> perOp(rs, "driver_ms"))
    }
    val gates = LlmOpsWorkload.Gates.map { g =>
      s"operators.gate_ms.$g" -> Bench.median(ok.filter(_.kind == g).map(_.ms))
    }
    val meta = "sources.meta_files" -> w.tableDir.map(d =>
      TableFiles.list(d).count { case (p, _) => !p.endsWith(".graft") && !p.endsWith(".crc") }
        .toDouble).getOrElse(0.0)
    val fmt = Seq("format.decode_ms_per_mb", "format.encode_ms_per_mb",
      "format.bytes_per_user_byte", "format.dict_hit_frac").map(_ -> 0.0).toMap ++ w.formatLayer()
    m ++ byKind ++ gates ++ fmt + meta
  }
}

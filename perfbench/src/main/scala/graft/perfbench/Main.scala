package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, Knn}

/**
 * The benchmark's entry point: one process, one client thread,
 * `local[nproc]` Spark through the engine's own `Sessions` recipe.
 *
 * {{{
 * Main --workload knn_point|knn_batch --seed N --seconds S --trace 0|1
 *      --dir <scratch dir> --result <json file>
 * }}}
 *
 * Untraced (`--trace 0`): set up once, warm up once, run the closed loop
 * for S seconds and on to the end of a cycle (one operation of every call
 * kind), write the end-to-end metrics.
 * setup_s is the session start plus the setup plus the warmup. Traced
 * (`--trace 1`): set up with spans, warm up untraced, then run the loop
 * for 2·S seconds with tracing switched per cycle of operations. Cycles
 * pair up, and which cycle of a pair is traced alternates from pair to
 * pair, so neither arm always runs first; the tracing overhead is the
 * median of the paired traced/untraced ratios. The traced run then probes
 * the distance kernel, the workload's own layers and, on `knn_batch`, the
 * curation pipeline, and writes the per-layer metrics.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dir: Path, result: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("dir")), Paths.get(need("result")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Seq("knn_point", "knn_batch").contains(args.workload),
      s"unknown workload ${args.workload}")
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Sessions.localMeasurement(cpus.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(args, spark, sessionS)
    finally spark.stop()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def cachedMb(sc: org.apache.spark.SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def run(args: Args, spark: org.apache.spark.sql.SparkSession, sessionS: Double): Unit = {
    val sc = spark.sparkContext
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, args.seed, args.dir, tracer)
    val w: Workload = args.workload match {
      case "knn_point" => new KnnPoint(ctx)
      case "knn_batch" => new KnnBatch(ctx)
    }
    val graphBuilds0 = Hnsw.graphBuilds.get()

    tracer.foreach(_.set(true))
    val s0 = System.nanoTime()
    w.setup()
    val setupOnceS = secs(s0)
    tracer.foreach { t => t.set(false); t.resetCounts(); t.phase = "loop" }
    val w0 = System.nanoTime()
    w.warmup()
    val warmS = secs(w0)
    val setupS = sessionS + setupOnceS + warmS
    println(s"perfbench: ${args.workload} seed=${args.seed} inputs=${w.fingerprint}")
    println(f"perfbench: session $sessionS%.3f s, setup $setupOnceS%.3f s, warmup $warmS%.3f s")

    // resource readings from outside, across the timed phase
    val persisted0 = sc.getPersistentRDDs.size
    val cached0 = cachedMb(sc)
    val cyc = w.cycle
    val window = if (args.trace) 2 * args.seconds else args.seconds
    // every run ends on a whole cycle, so it times the same call mix; the
    // traced run on a whole pair of cycles
    val end = if (args.trace) 2 * cyc else cyc
    val loop = Seq.newBuilder[Timed]
    val p0 = System.nanoTime()
    var i = 0
    while (i == 0 || secs(p0) < window || i % end != 0) {
      val c = i / cyc
      val traced = args.trace && tracedCycle(c)
      if (i % cyc == 0) tracer.foreach(_.set(traced))
      w.step(i).foreach(s => loop += Timed(c, traced, s))
      i += 1
    }
    tracer.foreach(_.set(false))
    val timed = loop.result()
    val persistedDelta = sc.getPersistentRDDs.size - persisted0
    val cachedDelta = cachedMb(sc) - cached0
    val all = timed.map(_.s)
    require(all.nonEmpty, "no operation succeeded")

    val named = Seq(("setup_s", setupS, "s"),
      ("failed_ratio", ctx.failed.toDouble / math.max(1L, ctx.attempted), "ratio")) ++
      w.report(all) ++
      Seq(("exec.persisted_rdds_delta", persistedDelta.toDouble, "count"),
        ("exec.cached_mb", cachedDelta, "MB"))
    named.foreach { case (k, v, u) => println(f"perfbench: ${args.workload} $k = $v%.6f $u") }

    val metrics = tracer match {
      case None =>
        Seq(("setup_s", setupS, "s"), ("op_p50_ms", Sample.p50(all), "ms"),
          ("throughput", Sample.throughput(all), "items/s"), ("quality", w.quality, "ratio"))
      case Some(t) =>
        perLayer(ctx, t, w, timed, graphBuilds0) ++
          Seq(("exec.persisted_rdds_delta", persistedDelta.toDouble, "count"),
            ("exec.cached_mb", cachedDelta, "MB"))
    }
    tracer.foreach(_.detach())
    w.release()
    writeResult(args.result, ctx.failed == 0, ctx.attempted, ctx.failed, metrics)
  }

  /** One operation of the timed loop: its cycle and whether it was traced. */
  final case class Timed(cycle: Int, traced: Boolean, s: Sample)

  /** Whether cycle `c` of the traced run's loop is traced. Cycles pair up
    * as (0, 1), (2, 3), ...; the traced one comes second in even pairs and
    * first in odd pairs: untraced, traced, traced, untraced, ... */
  def tracedCycle(c: Int): Boolean = (c % 2 == 1) != ((c / 2) % 2 == 1)

  /** Tracing overhead in percent from the paired cycles, as (latency,
    * throughput): the median over pairs and call kinds of traced ÷
    * untraced median latency, and the median over pairs of untraced ÷
    * traced throughput, each minus one. A pair whose traced or untraced
    * half has no successful operation of a kind gives no ratio for it. */
  def overheadPct(timed: Seq[Timed]): (Double, Double) = {
    val lat = Seq.newBuilder[Double]
    val thr = Seq.newBuilder[Double]
    timed.groupBy(_.cycle / 2).values.foreach { pair =>
      val (on, off) = pair.partition(_.traced)
      if (on.nonEmpty && off.nonEmpty) {
        thr += Sample.throughput(off.map(_.s)) / Sample.throughput(on.map(_.s))
        val offByKind = off.groupBy(_.s.kind)
        on.groupBy(_.s.kind).foreach { case (k, ts) =>
          offByKind.get(k).foreach { us =>
            lat += Stats.median(ts.map(_.s.ms)) / Stats.median(us.map(_.s.ms))
          }
        }
      }
    }
    def pct(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else (Stats.median(xs) - 1) * 100
    (pct(lat.result()), pct(thr.result()))
  }

  /** The traced run's per-layer metrics: listener counts per traced
    * operation, span medians, the tracing overhead, and the probes that
    * run after the loop. */
  private def perLayer(ctx: Ctx, t: Tracer, w: Workload, timed: Seq[Timed],
                       graphBuilds0: Long): Seq[(String, Double, String)] = {
    val traced = timed.filter(_.traced).map(_.s)
    val ops = math.max(1, traced.size).toDouble
    val (overP50, overThr) = overheadPct(timed)
    // listener readings of the traced phase, taken before the probes run
    val c = t.total
    val planMs = t.planMs.get
    val compiles = t.codegenCompiles
    val skew = t.stageSkew.toArray.map(_.asInstanceOf[Double]).toSeq
    val loop = Seq(
      ("spark.plan_ms", planMs / ops, "ms"),
      ("spark.codegen_compiles", compiles / ops, "count"),
      ("spark.jobs", c.jobs.get / ops, "count"),
      ("spark.stages", c.stages.get / ops, "count"),
      ("spark.tasks", c.tasks.get / ops, "count"),
      ("exec.run_ms", c.runMs.get / ops, "ms"),
      ("exec.cpu_ms", c.cpuNs.get / 1e6 / ops, "ms"),
      ("exec.gc_ms", c.gcMs.get / ops, "ms"),
      ("exec.shuffle_read_bytes", c.shuffleRead.get / ops, "bytes"),
      ("exec.shuffle_write_bytes", c.shuffleWrite.get / ops, "bytes"),
      ("exec.spill_bytes", c.spill.get / ops, "bytes"),
      ("exec.result_bytes", c.resultBytes.get / ops, "bytes"),
      ("exec.skew", if (skew.isEmpty) 1.0 else Stats.median(skew), "ratio"),
      ("trace.overhead_p50_pct", overP50, "%"),
      ("trace.overhead_throughput_pct", overThr, "%"))

    t.phase = "probe"
    t.set(true)
    val kernel = kernelProbe(ctx)
    val probes = kernel ++ kernelShares(w, traced, kernel.map(k => k._1 -> k._2).toMap) ++ w.layers ++
      (if (w.isInstanceOf[KnnBatch]) new Curate(ctx).run() else Nil)
    t.set(false)
    t.write(ctx.dir.resolve("spans.jsonl"))
    // every run reports every layer; one the workload does not call reads 0
    val own = probes.map(_._1).toSet
    val absent = WorkloadLayers.filterNot { case (k, _) => own(k) }
      .map { case (k, u) => (k, 0.0, u) }
    // loop calls from the traced loop only; builds from setup; the
    // curation stages from their probe
    def ms(name: String) = t.medianMs(name, "loop")
    def s(name: String, phase: String = "loop") = t.medianMs(name, phase) / 1e3
    loop ++ Seq(
      ("knn.search_ms", ms("Knn.search"), "ms"),
      ("hybrid.search_ms", ms("Hybrid.hybridSearch"), "ms"),
      ("ivfpq.search_ms", ms("IvfPq.search"), "ms"),
      ("ivfpq.build_s", s("IvfPq.model", "setup"), "s"),
      ("ivf.build_s", s("Ivf.build", "setup"), "s"),
      ("ivf.write_s", s("Ivf.writePartitioned", "setup"), "s"),
      ("ivf.search_ms", ms("Ivf.IvfModel.search"), "ms"),
      ("ivf.disk_search_ms", ms("Ivf.disk_search"), "ms"),
      ("ivf.knn_join_s", s("Ivf.knnJoin"), "s"),
      ("ivf.join_s", s("Ivf.join"), "s"),
      ("ivf.insert_s", s("Ivf.insert"), "s"),
      ("ivf.delete_bulk_s", s("Ivf.deleteBulk"), "s"),
      ("hnsw.build_s", s("Hnsw.build", "setup"), "s"),
      ("hnsw.search_ms", ms("Hnsw.search"), "ms"),
      ("hnsw.disk_search_ms", ms("Hnsw.searchBatchFromDisk"), "ms"),
      ("hnsw.graph_builds", (Hnsw.graphBuilds.get() - graphBuilds0).toDouble, "count"),
      ("hnsw.search_batch_s", s("Hnsw.searchBatch"), "s"),
      ("hnsw.insert_s", s("Hnsw.insert"), "s"),
      ("hnsw.delete_bulk_s", s("Hnsw.deleteBulk"), "s"),
      ("dedup.fingerprint_s", s("Dedup.fingerprintDedup", "probe"), "s"),
      ("dedup.minhash_lsh_s", s("Dedup.minhashLshPairs", "probe"), "s"),
      ("dedup.dup_groups_s", s("Dedup.dupGroups", "probe"), "s"),
      ("dedup.line_dedup_s", s("Dedup.lineDedup", "probe"), "s"),
      ("dedup.decontaminate_s", s("Dedup.decontaminate", "probe"), "s"),
      ("dedup.semdedup_s", s("Dedup.semDedup", "probe"), "s")) ++ probes ++ absent
  }

  /** The share of the traced operations' time the distance kernel
    * accounts for: a cycle's kernel pairs times the probe's wall time per
    * pair, over the sum of the per-kind median latencies
    * (`kernel.cycle_share`) and over the sum of the per-kind median
    * seconds that count toward throughput (`kernel.throughput_share`; on
    * `knn_batch` the search phase of a round). */
  private def kernelShares(w: Workload, traced: Seq[Sample],
                           kernel: Map[String, Double]): Seq[(String, Double, String)] = {
    val (l2Pairs, cosPairs) = w.kernelPairs
    val kernelMs = (l2Pairs * kernel("kernel.l2_ns_per_pair") +
      cosPairs * kernel("kernel.cosine_ns_per_pair")) / 1e6
    def share(f: Sample => Double) = {
      val cycleMs = traced.groupBy(_.kind).values.map(k => Stats.median(k.map(f))).sum
      if (cycleMs > 0) kernelMs / cycleMs else 0.0
    }
    Seq(("kernel.cycle_share", share(_.ms), "ratio"),
      ("kernel.throughput_share", share(_.busyS * 1e3), "ratio"))
  }

  /** Per-layer figures only some workloads' probes give. */
  private val WorkloadLayers = Seq(
    "ivf.route_us" -> "us", "index.space_amp" -> "ratio", "ivf.join_yield" -> "ratio",
    "curate.docs_per_s" -> "docs/s", "curate.dup_recall" -> "ratio",
    "curate.persisted_rdds_delta" -> "count",
    "dedup.lsh_pairs" -> "count", "embed.rows_per_s" -> "rows/s")

  /** The distance kernel alone: a `Knn.distCol` projection of the
    * distances to 8 query vectors over a cached block into the noop sink,
    * in wall time per vector pair (the scan of the cached block included,
    * and shared by the 8 pairs of a row). */
  private def kernelProbe(ctx: Ctx): Seq[(String, Double, String)] = {
    val rows = 100000L
    val qs = Gen.queries(ctx.seed, 21, 8).map(_._2)
    val block = ctx.pin(Gen.mixtureFrame(ctx.spark, ctx.seed, 20, 0, rows, 4).select("vec"))
    val out = Seq("l2", "cosine").map { m =>
      val ds = qs.indices.map(j => Knn.distCol(m)(col("vec"), lit(qs(j))).as(s"d$j"))
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.call(s"kernel.$m")(block.select(ds: _*).write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0).toDouble
      }
      (s"kernel.${m}_ns_per_pair", Stats.median(ts) / (rows * qs.length), "ns")
    }
    block.unpersist()
    out
  }

  private def writeResult(path: Path, correct: Boolean, attempted: Long, failed: Long,
                          metrics: Seq[(String, Double, String)]): Unit = {
    val ms = metrics.map { case (k, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k":{"value":$v,"unit":"$u"}"""
    }.mkString(",")
    Files.createDirectories(path.getParent)
    Files.writeString(path,
      s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
  }
}

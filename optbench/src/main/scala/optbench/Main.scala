package optbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.operators.BinningProcess

/** Runs one workload in this JVM and prints one JSON result line.
  *
  * {{{
  * optbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *               --t0-ms <launcher start, epoch ms> --work-dir <dir>
  *               --report <file>
  * }}}
  *
  * The Spark master, shuffle partitions and directories come from
  * `spark.*` system properties set by the launcher (`run.py`).
  */
object Main {
  /** Timed rounds run until `--seconds` have passed; at least this many,
    * so that a median exists on a slow host, and at most `MaxRounds`. */
  val MinRounds = 3
  val MaxRounds = 40
  val Partitions = 8

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, t0Ms: Long, workDir: String,
                        report: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
         need("--trace") == "1", need("--t0-ms").toLong, need("--work-dir"),
         need("--report"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workload(o.workload)
    val spark = SparkSession.builder().appName(s"optbench-${w.name}")
      .getOrCreate()
    val line = try run(spark, w, o) finally spark.stop()
    println(line)
  }

  def run(spark: SparkSession, w: Workload, o: Opts): String = {
    val tSession = System.currentTimeMillis()
    val probe = new Probe(if (o.trace) Some(new Tracer(spark)) else None)
    val in = generate(spark, w, o, probe)
    val tData = System.currentTimeMillis()
    val warm = (1 to w.warmupRounds).map(_ => w.round(in).times.fit)
    probe.take()

    val setupS = (System.currentTimeMillis() - o.t0Ms) / 1e3
    System.err.println(f"optbench: set-up: session ${(tSession - o.t0Ms) / 1e3}%.2f s, " +
      f"data ${(tData - tSession) / 1e3}%.2f s, warm-up fit_s " +
      warm.map(t => f"$t%.3f").mkString(" "))
    val (gc0, jit0, cpu0) = (Jvm.gcMs, Jvm.jitMs, Jvm.cpuNs)
    val start = System.nanoTime()
    val rounds = ArrayBuffer.empty[Round]
    val calls = ArrayBuffer.empty[Seq[(String, CallStats)]]
    def elapsed = (System.nanoTime() - start) / 1e9
    while (rounds.length < MinRounds ||
           (elapsed < o.seconds && rounds.length < MaxRounds)) {
      rounds += w.round(in)
      calls += probe.take()
    }
    val jvm = Seq(
      "jvm.cpu_s" -> (Jvm.cpuNs - cpu0) / 1e9,
      "jvm.gc_s" -> (Jvm.gcMs - gc0) / 1e3,
      "jvm.jit_s" -> (Jvm.jitMs - jit0) / 1e3)

    // the first timed round is checked in full; every later round must
    // reproduce its outputs and inherits its verdicts
    val tCheck = System.nanoTime()
    val verdicts = w.check(in, rounds.head)
    System.err.println(f"optbench: checks took ${(System.nanoTime() - tCheck) / 1e9}%.2f s")
    val reference = rounds.head.ops.map(op => op.name -> op.output).toMap
    var failed = 0L
    var unexpected = 0L
    rounds.foreach { r =>
      r.ops.foreach { op =>
        val v = verdicts(op.name)
        val same = op.output.length == reference(op.name).length &&
          op.output.zip(reference(op.name)).forall { case (a, b) =>
            Checks.close(a, b, 1e-6)
          }
        if (!v.ok || !same) {
          failed += 1
          if (!same || !v.known) unexpected += 1
        }
      }
    }
    verdicts.toSeq.sortBy(_._1).foreach { case (op, v) =>
      if (!v.ok) System.err.println(
        s"optbench: ${w.name} $op failed${if (v.known) " (grid-count fault)" else ""}: ${v.note}")
    }
    val attempted = rounds.map(_.ops.length).sum.toLong

    val times = rounds.map(_.times).toSeq
    // medians over the timed rounds (over every application for the
    // apply rate): robust both to a round slowed by the host's other
    // tenants and to a lucky fast one
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("fit_s", median(times.map(_.fit)), "s"),
      ("apply_rows_per_s", in.rows / median(times.flatMap(_.apply)),
       "rows/s"),
      ("cycle_s", median(times.map(_.cycle)), "s"))
    System.err.println(s"optbench: ${w.name} seed ${o.seed} " +
      s"${rounds.length} rounds, fit_s per round " +
      times.map(t => f"${t.fit}%.3f").mkString(" ") +
      f", jit ${jvm(2)._2}%.1f s, gc ${jvm(1)._2}%.2f s")

    var problems = Seq.empty[String]
    val metrics =
      if (!o.trace) e2e
      else {
        System.err.println("optbench-traced-e2e " + json(e2e))
        val (extraLayer, extraProblems) = Layers.extras(in, w)
        problems = extraProblems
        problems.foreach(p => System.err.println(s"optbench: $p"))
        val extra = probe.take()
        val bp = rounds.head.process.getOrElse(BinningProcess.fit(
          in.train, w.variables.filter(Gen.Numeric.contains), "y",
          config = w.config))
        val plan = Plans.physical(bp.transform(in.train, "woe"))
        val report =
          s"""{"workload": "${w.name}", "seed": ${o.seed},
             | "transform_fingerprint": "${Plans.fingerprint(plan)}",
             | "round_calls": [${calls.map(_.map { case (k, c) =>
                 s"\"$k: $c\"" }.mkString("[", ", ", "]")).mkString(",\n  ")}],
             | "extra_calls": [${extra.map { case (k, c) =>
                 s"\"$k: $c\"" }.mkString(", ")}]}
             |""".stripMargin
        Files.createDirectories(Paths.get(o.report).toAbsolutePath.getParent)
        Files.write(Paths.get(o.report), report.getBytes(StandardCharsets.UTF_8))
        Layers.metrics(calls.toSeq, rounds.map(_.layer).toSeq, extra,
                       extraLayer, plan, jvm)
      }
    val correct = unexpected == 0 && problems.isEmpty
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${json(metrics)}}"""
  }

  /** Writes the cohorts as parquet under the work dir and reads them
    * back; the drifted actual cohort is written when first used. */
  private def generate(spark: SparkSession, w: Workload, o: Opts,
                       probe: Probe): Inputs = {
    def write(cohort: Int) = {
      val path = Paths.get(o.workDir, s"data-$cohort").toString
      Gen.table(spark, o.seed, cohort, w.rows, w.batches, Partitions)
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    new Inputs(spark, write(0), write(1), w.rows, w.batches, probe)
  }

  private def json(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
}

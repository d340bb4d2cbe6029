package perfbench

import java.io.File

import graft.Graft

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <dir>`. Prints every metric it measured as one
  * `PERFBENCH {...}` line; run.py picks the declared ones from it.
  */
object Main {
  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println(s"usage: --workload <${SearchWorkload.Names.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --out <dir>")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"--$k is required"))
    val workload = opt("workload")
    if (!SearchWorkload.Names.contains(workload)) usage(s"unknown workload $workload")
    val seed = opt("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = opt("seconds").toIntOption.filter(_ > 0).getOrElse(usage("--seconds must be > 0"))
    val traced = opt("trace") match {
      case "0" => false; case "1" => true; case _ => usage("--trace must be 0 or 1")
    }
    val out = new File(opt("out"))
    val work = new File(out, s"work-${ProcessHandle.current().pid()}")

    val cores = Runtime.getRuntime.availableProcessors
    val (spark, sessionMs) = Loop.ms(Graft.session(cores.toString))
    val report = new Report
    val code =
      try {
        val trace = if (traced) Some(new Trace(spark)) else None
        val ctx = new Ctx(spark, new Gen(seed), seconds, trace, work, report, cores)
        Loop.log(s"session up; running $workload")
        SearchWorkload(workload, ctx).run()
        Loop.log("window closed")
        report.put("setup_s", report.metrics("setup_s")._1 + sessionMs / 1000, "s")
        report.put("session_s", sessionMs / 1000, "s")
        trace.foreach { t =>
          t.close()
          KernelBench.run(ctx.gen).foreach { case (n, v, u) => report.put(n, v, u) }
          t.writeJsonl(new File(out, s"traces/$workload-seed$seed.jsonl"))
        }
        report.put("peak_rss_mb", SearchWorkload.peakRssMb(), "MB")
        report.put("error_rate", report.errorRate, "ratio")
        val ms = report.metrics.map { case (n, (v, u)) =>
          s""""$n":{"value":${Report.num(v)},"unit":"$u"}"""
        }.mkString(",")
        def strings(xs: Seq[String]) =
          xs.map(x => "\"" + x.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString("[", ",", "]")
        println(s"""PERFBENCH {"attempted":${report.attempted},"failed":${report.failed},""" +
          s""""failures":${strings(report.failures.toSeq)},"notes":${strings(report.notes.toSeq)},"metrics":{$ms}}""")
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: run aborted: $e")
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        Loop.log("stopped")
        deleteTree(work)
      }
    System.out.flush()
    sys.exit(code)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }
}

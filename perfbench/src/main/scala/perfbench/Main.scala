package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** One benchmark run in one fresh JVM: build the session, open the
  * workload's inputs, run untimed warm-up passes and then timed passes
  * of the workload's fixed call script until `--seconds` have passed,
  * and write every call's time, process CPU and output to `--out` as
  * JSON. The
  * Python side (run.py) checks the outputs and computes the metrics.
  *
  * Usage: perfbench.Main --workload explore --inputs DIR --params FILE
  *   --out FILE --work DIR --seconds S --warmup K --trace 0|1 --cores N
  */
object Main {

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = a("cores").toInt
    val tracer = if (a("trace") == "1") Some(new Tracer) else None

    val params = parse(new String(Files.readAllBytes(Paths.get(a("params"))),
      StandardCharsets.UTF_8))
    val sessionBegin = System.currentTimeMillis()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.foreach(_.install(spark))
    val sessionReady = System.currentTimeMillis()
    val workload = Workload(a("workload"), spark, a("inputs"), a("work"), params \ "sizes")
    val openEnd = System.currentTimeMillis()
    val warm = (params \ "warmup").children.take(a("warmup").toInt)
    val timed = (params \ "timed").children

    // process CPU is measured around each call alone, so the tracer's
    // bookkeeping between calls is in no call's figure
    def runPass(phase: String, idx: Int, p: JValue): JObject = {
      val passStart = System.currentTimeMillis()
      val calls = workload.ops.map { op =>
        val cpu0 = cpuSeconds()
        val s = System.nanoTime()
        val sMs = System.currentTimeMillis()
        val res: Either[Throwable, JValue] =
          try Right(op.run(p, s"$phase$idx")) catch { case NonFatal(e) => Left(e) }
        val e = System.nanoTime()
        val eMs = System.currentTimeMillis()
        val cpu = cpuSeconds() - cpu0
        val traced = tracer.map(_.endCall(s"$phase$idx", op.kind, sMs, eMs))
        System.err.println(
          f"perfbench: $phase$idx ${op.kind} ${(e - s) / 1e9}%.3f s ok=${res.isRight}")
        ("kind" -> op.kind) ~ ("aggregate" -> op.inAggregates) ~
          ("seconds" -> (e - s) / 1e9) ~ ("cpu_s" -> cpu) ~ ("ok" -> res.isRight) ~
          ("error" -> res.left.toOption.map(t => s"${t.getClass.getName}: ${t.getMessage}")) ~
          ("result" -> res.toOption) ~ ("trace" -> traced)
      }
      ("phase" -> phase) ~ ("index" -> idx) ~
        ("start_ms" -> passStart) ~ ("end_ms" -> System.currentTimeMillis()) ~
        ("calls" -> JArray(calls.toList))
    }

    val warmPasses = warm.zipWithIndex.map { case (p, i) => runPass("warm", i, p) }
    val budgetMs = (a("seconds").toDouble * 1000).toLong
    val minTimed = 2
    val timedStart = System.currentTimeMillis()
    val timedPasses = scala.collection.mutable.ArrayBuffer[JObject]()
    while (timedPasses.size < timed.size &&
      (timedPasses.size < minTimed || System.currentTimeMillis() - timedStart < budgetMs))
      timedPasses += runPass("timed", timedPasses.size, timed(timedPasses.size))

    val out: JObject =
      ("cores" -> cores) ~
        ("setup_s" -> (openEnd - processStartMs) / 1000.0) ~
        ("session_start_s" -> (sessionReady - sessionBegin) / 1000.0) ~
        ("sources_open_s" -> (openEnd - sessionReady) / 1000.0) ~
        ("facts" -> workload.facts) ~
        ("passes" -> JArray((warmPasses ++ timedPasses).toList)) ~
        ("trace" -> tracer.map(_.summary()))
    Files.write(Paths.get(a("out")), compact(render(out)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Benchmark entry point, one workload per JVM:
  *
  * {{{
  *   graft.perfbench.Main --workload <parking_e2e|curation_index>
  *     --input <dir> --work <dir> --seed <n> --seconds <s> --trace <0|1>
  *     --report <file>
  * }}}
  *
  * The input directory holds the generated files and `planted.json`
  * (the counts the generator planted). The JVM writes one JSON report;
  * `perfbench/run.py` builds, generates, launches this and prints the
  * result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val input = opts("input")
    val planted = org.json4s.jackson.JsonMethods.parse(new String(
      Files.readAllBytes(new File(input, "planted.json").toPath),
      StandardCharsets.UTF_8)).values.asInstanceOf[Map[String, Any]]
      .collect { case (k, n: BigInt) => k -> n.toLong }
    val ctx = Ctx(opts("workload"), input, opts("work"), opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1",
      Runtime.getRuntime.availableProcessors, planted)
    new File(ctx.work).mkdirs()
    val result = ctx.workload match {
      case "parking_e2e" => Batch.run(ctx, ParkingPass)
      case "curation_index" => Batch.run(ctx, CorpusPass)
      case w => sys.error(s"unknown workload $w")
    }
    Files.write(new File(opts("report")).toPath,
      Serialization.write(result + ("workload" -> ctx.workload))(DefaultFormats)
        .getBytes(StandardCharsets.UTF_8))
  }
}

package graft.tools

import graft.{Sessions, Verify}
import graft.operators.{StringSim, WebCuration}
import org.apache.spark.sql.functions.col

/** Companion main for the cross-engine kernel fuzz tools:
  * `KernelDump unary|pair <in> <out>`.
  *
  *  - `unary` (`tools/fuzz_kernels.py`): a one-column (`s` STRING)
  *    parquet corpus through every registered string kernel
  *    ([[graft.operators.WebCuration.kernelOracles]]);
  *  - `pair` (`tools/fuzz_string_sim.py`): an (`id`, `a`, `b` STRING)
  *    corpus through every string-pair kernel
  *    ([[graft.operators.StringSim.pairKernelOracles]]).
  *
  * Writes the input columns plus one column per kernel to
  * `<out>/results.parquet`, and the DuckDB expression of each kernel to
  * `<out>/kernel_sql.json`, so the tool can replay the identical corpus
  * through the other engine and diff.
  */
object KernelDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 && Set("unary", "pair")(args(0)),
      s"usage: KernelDump unary|pair <in> <out>, got: ${args.mkString(" ")}")
    val Array(mode, in, out) = args
    val spark = Sessions.build("kernel-dump", "8")
    spark.sparkContext.setLogLevel("ERROR")
    // (name, Spark column, DuckDB expression) per kernel
    val (keep, kernels) =
      if (mode == "unary") (Seq("s"), WebCuration.kernelOracles.toSeq.map {
        case (name, (k, sql)) => (name, k(col("s")), sql) })
      else (Seq("id", "a", "b"), StringSim.pairKernelOracles.toSeq.map {
        case (name, (k, sql)) => (name, k(col("a"), col("b")), sql) })
    val sorted = kernels.sortBy(_._1)
    spark.read.parquet(in)
      .select(keep.map(col) ++ sorted.map { case (name, k, _) => k.as(name) }: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/results.parquet")
    val sqlJson = sorted.map { case (name, _, sql) =>
        s"${Verify.jsonString(name)}: ${Verify.jsonString(sql)}" }
      .mkString("{", ",\n", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "kernel_sql.json"),
      sqlJson.getBytes("UTF-8"))
    spark.stop()
  }
}

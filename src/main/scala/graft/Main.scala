package graft

import java.time.LocalDate
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.RunConfig

/** CLI entry point (replaces the reference's per-script click CLIs,
  * e.g. /root/reference/scripts/NetworkBuilder.py:483-538):
  *
  *   run-daily <dataDir> <yyyy-MM-dd> <outDir> [nSeeds]
  *       full daily pipeline: contact matrix → SBM network (GraphML)
  *       → seeded SEIR runs → status + infected-per-block parquet.
  *       <dataDir> is the date partition the run reads; <yyyy-MM-dd>
  *       only labels the run in its log line
  *   gen-tables <dataDir> <outDir>
  *       stage 1 alone (the reference's --gen_tables): presence-derived
  *       base tables — device home catalog + contact sizes — to parquet
  *   prob-matrix <dataDir> <outDir>
  *       stage 2 alone (--prob_matrix): total-vs-observed contact
  *       probability matrix (long form) to parquet
  *   scale <dataDir> <outDir>
  *       stage 3 alone (--scale): exact-total scaled block sizes
  *   build-network <stageDir> <outDir> [seed]
  *       stage 4 alone (--build_network): SBM network from a PRIOR
  *       prob-matrix + scale run's parquet (replay one stage without
  *       recomputing upstream), written as GraphML
  *   query <name> <sfDir>
  *       run one registered operator and print 20 rows
  *   list
  *       list registered operators
  *
  * Each stage subcommand is standalone on a date partition: point
  * <dataDir> at the partition (the same directory run-daily takes) and
  * only that stage executes — the reference's stage-flag replay
  * granularity without its intermediate pickle handoffs (stages here
  * exchange typed parquet).
  */
object Main {

  private def withSpark(f: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val spark = Sessions.build("graft", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    try f(spark) finally spark.stop()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run-daily" :: dataDir :: date :: outDir :: rest => withSpark { spark =>
      val seeds = 0 until rest.headOption.map(_.toInt).getOrElse(4)
      val cfg = RunConfig(dataDir, LocalDate.parse(date))
      val (matrix, vertices, edges, status) = Pipeline.dailyRun(spark, cfg, seeds)
      new java.io.File(outDir).mkdirs()
      matrix.coalesce(1).write.mode("overwrite").parquet(s"$outDir/contact_matrix")
      graft.sources.GraphML.write(vertices, edges, s"$outDir/network.graphml")
      status.write.mode("overwrite").parquet(s"$outDir/seir_status")
      val blocks = vertices.selectExpr("CAST(node_id AS LONG) AS nodeId",
        "attrs['block'] AS block")
      graft.sim.Seir.infectedPerBlock(status, blocks)
        .write.mode("overwrite").parquet(s"$outDir/infected_per_block")
      println(s"[graft] daily run ${cfg.date} -> $outDir")
    }
    case "gen-tables" :: dataDir :: outDir :: Nil => withSpark { spark =>
      graft.operators.Ntl.homeCatalog(spark, dataDir)
        .write.mode("overwrite").parquet(s"$outDir/homes")
      graft.operators.Interactions.sizes(spark, dataDir)
        .write.mode("overwrite").parquet(s"$outDir/contact_sizes")
      println(s"[graft] gen-tables $dataDir -> $outDir/{homes,contact_sizes}")
    }
    case "prob-matrix" :: dataDir :: outDir :: Nil => withSpark { spark =>
      graft.operators.Interactions.totalVsObserved(spark, dataDir)
        .write.mode("overwrite").parquet(s"$outDir/prob_matrix")
      println(s"[graft] prob-matrix $dataDir -> $outDir/prob_matrix")
    }
    case "scale" :: dataDir :: outDir :: Nil => withSpark { spark =>
      graft.operators.Scaling.scaledSizesExact(spark, dataDir)
        .write.mode("overwrite").parquet(s"$outDir/scaled_sizes")
      println(s"[graft] scale $dataDir -> $outDir/scaled_sizes")
    }
    case "build-network" :: stageDir :: outDir :: rest => withSpark { spark =>
      import org.apache.spark.sql.functions.col
      val seed = rest.headOption.map(_.toLong).getOrElse(3696L)
      val sizes = graft.graph.Sbm.nodeSizes(spark.read.parquet(s"$stageDir/scaled_sizes")
        .orderBy(col("event_type")).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toSeq)
      val probs = spark.read.parquet(s"$stageDir/prob_matrix")
        .select(col("a_home").as("block_a"), col("b_home").as("block_b"),
          col("prob"))
      val (vertices, edges) = graft.graph.Sbm.generate(spark, sizes, probs, seed)
      new java.io.File(outDir).mkdirs()
      graft.sources.GraphML.write(vertices, edges, s"$outDir/network.graphml")
      println(s"[graft] build-network $stageDir -> $outDir/network.graphml")
    }
    case "query" :: name :: sfDir :: Nil =>
      val fn = SparkEntry.queries.getOrElse(name, {
        System.err.println(s"unknown query '$name'; try: graft.Main list")
        sys.exit(2)
      })
      withSpark(spark => fn(spark, sfDir).show(20, truncate = false))
    case "list" :: Nil =>
      SparkEntry.allOps.sortBy(_.name).foreach { op =>
        val kind = if (op.oracle.isDefined) "oracle" else "rows  "
        println(f"$kind  ${op.name}")
      }
    case _ =>
      System.err.println(
        """usage: graft.Main run-daily <dataDir> <yyyy-MM-dd> <outDir> [nSeeds]
          |         (<dataDir> is the date partition read; <yyyy-MM-dd> is only an output label)
          |       graft.Main gen-tables <dataDir> <outDir>
          |       graft.Main prob-matrix <dataDir> <outDir>
          |       graft.Main scale <dataDir> <outDir>
          |       graft.Main build-network <stageDir> <outDir> [seed]
          |       graft.Main query <name> <sfDir>
          |       graft.Main list""".stripMargin)
      sys.exit(2)
  }
}

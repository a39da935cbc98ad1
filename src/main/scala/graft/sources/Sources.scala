package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink inventory (SURVEY §2.1).
  *
  * The reference exchanges every stage boundary through files; this
  * engine composes stages lazily and only materializes at declared
  * checkpoints, but it supports the same physical formats:
  * parquet scans/globs (S1-S3), Hive-partitioned datasets with
  * partition pruning (S2/S8) and CSV with schema inference (S4/S10).
  */
object Sources {

  /** S1/S3: parquet file or glob. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S2: Hive-partitioned dataset scan; filters on partition columns
    * prune directories at planning time (replaces the reference's
    * by-hand path interpolation —
    * /root/reference/scripts/NetworkBuilder.py:66-73).
    */
  def partitionedDataset(spark: SparkSession, root: String): DataFrame =
    spark.read.option("basePath", root).parquet(root)

  /** S4: CSV scan with header + schema inference
    * (/root/reference/scripts/csv_infected.py:71-75).
    */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S8: partitioned parquet sink — the reference's
    * `partition_cols=["year","month","day","cve_zm"]` layout
    * (/root/reference/scripts/IndexingHomeAgebs.py:144-146).
    */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** S10: CSV sink with header. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S12: dense-matrix text sink — the np.savetxt handoff format the
    * reference's network builder emits (total/observed/probs matrices —
    * /root/reference/scripts/NetworkBuilder.py:305,315,323). Labels are
    * the sorted union of row/col keys; missing cells are 0. The pivot
    * is driver-side BY DESIGN: the matrix is |home cells|² — catalog-
    * sized, not data-sized — the same documented driver boundary as the
    * GraphML writer. Default cell format mirrors np.savetxt's '%.18e'.
    */
  def writeDenseMatrix(df: DataFrame, rowCol: String, colCol: String,
      valCol: String, path: String,
      fmt: Double => String = v => f"$v%.18e"): Unit = {
    val rows = df.select(col(rowCol).cast("string"), col(colCol).cast("string"),
      col(valCol).cast("double")).collect()
    val labels = rows.iterator
      .flatMap(r => Iterator(r.getString(0), r.getString(1)))
      .toSeq.distinct.sorted
    val idx = labels.zipWithIndex.toMap
    val m = Array.fill(labels.size, labels.size)(0.0)
    rows.foreach(r => m(idx(r.getString(0)))(idx(r.getString(1))) = r.getDouble(2))
    val text = m.map(_.map(fmt).mkString(" ")).mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      text.getBytes("UTF-8"))
    ()
  }

  /** ORC source/sink — the other columnar format Spark ships natively;
    * same pushdown/pruning contract as parquet (PushedFilters +
    * ReadSchema reach the ORC reader).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Line-oriented text source (one string column `value`). */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Incremental partition overwrite: rewrites ONLY the partitions
    * present in `df`, leaving sibling partitions untouched — the
    * daily re-run semantics of the reference's per-day regeneration
    * (a full-overwrite sink would drop every other day). Uses dynamic
    * partitionOverwriteMode scoped to this write.
    */
  def overwritePartitions(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(path)

  /** Small-file compaction: rewrite a parquet dataset into
    * `targetFiles` files. At 100 TB the small-file problem is a
    * first-order operational cost (footer reads + task scheduling per
    * file); compaction is the standing maintenance op. Repartition —
    * not coalesce — on purpose: coalesce(n) propagates into the scan
    * stage and would read 10,000 input files with n tasks; the shuffle
    * keeps the read parallel at full cluster width.
    */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
      targetFiles: Int): Unit =
    spark.read.parquet(inPath).repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)

  /** JSONL shard sink: one JSON object per line — the standard
    * training-data handoff format. Rows are routed to a fixed number
    * of shard files by hash of `shardKey`, so shard membership is
    * deterministic across re-runs and cluster sizes (a row's shard
    * depends only on its key, never on input partitioning). Reads back
    * with `spark.read.json` / any JSONL consumer.
    */
  def writeJsonl(df: DataFrame, path: String, shards: Int,
      shardKey: String): Unit =
    df.repartition(shards, col(shardKey))
      .write.mode(SaveMode.Overwrite).json(path)

  /** JSONL source (schema inferred; one object per line). */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** Corruption-tolerant JSONL source: malformed lines land in a
    * `_corrupt` column instead of failing the job — at ingest scale a
    * handful of bad lines in a billion must never kill the run, and
    * quarantining them (filter on `_corrupt IS NOT NULL`) preserves
    * them for audit. `schema` is the expected good-row schema.
    */
  def readJsonlPermissive(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema.add("_corrupt", "string"))
      .json(path)

  /** Schema-evolved parquet scan: union the schemas of all files
    * (columns added over a dataset's lifetime read as null for files
    * written before the column existed). Off by default in Spark
    * because footer-merging costs a pass over file metadata — that is
    * exactly the documented trade: pay it when a lake-era dataset has
    * evolved, skip it when the schema is known-stable.
    */
  def parquetMergeSchema(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Raw-binary ingestion for the multimodal path: each file becomes a
    * row of (path, modificationTime, length, content binary) — the
    * entry point that turns a directory of images/audio into the
    * opaque-binary column `operators.Multimodal` processes. Built on
    * Spark's binaryFile source, so listing is distributed and
    * `pathGlobFilter` prunes at enumeration time (never reads rejected
    * bytes); `maxBytesPerFile`-style guards belong in the caller at
    * 100 TB.
    */
  def binaryFiles(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)

  /** S6: GeoJSON FeatureCollection harvest — the polygon-catalog build
    * step (/root/reference/notebooks/GeneratesMunicipioDB.ipynb cells
    * 1-5): one whole-document JSON read (multiLine), `features[]`
    * exploded to a row per feature, properties flattened to columns,
    * geometry re-serialized to its GeoJSON string. The output plugs
    * straight into the point-in-polygon path: parse `geometry` once
    * catalog-side with from_json($.coordinates) and broadcast
    * (operators.Spatial). Catalog-sized input by nature — whole-file
    * JSON parse is a build-time cost, never per-ping.
    */
  def geoJsonFeatures(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)
      .select(explode(col("features")).as("feature"))
      .select(col("feature.properties.*"),
        col("feature.geometry.type").as("geometry_type"),
        to_json(col("feature.geometry")).as("geometry"))
}

package graft.logs

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Introspection / metadata operators (SURVEY §2.12).
  *
  *  - M1 (`DESCRIBE` header) lives in [[LogCli.render]] (`-- name: TYPE`).
  *  - M2 — this object: physical parquet metadata as a DataFrame, the
  *    engine-side analogue of DuckDB's `parquet_schema`/`parquet_metadata`
  *    probes the reference uses to assert its physical encodings
  *    (reference test.sh:156-173).
  *  - M3 (independent-reader oracle) is the ScalaTest + DuckDB harness.
  *  - M4 (query echo) — [[LogCli]] prints the executed plan.
  */
object Introspect {

  /** Parquet files matched by `pathGlob` (one directory level deep when the
    * glob matches directories — these probes target leaf partition dirs).
    */
  private def parquetFiles(spark: SparkSession, pathGlob: String): Seq[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(pathGlob)
    val fs = p.getFileSystem(conf)
    Option(fs.globStatus(p)).getOrElse(Array.empty)
      .flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).filter(_.getPath.getName.endsWith(".parquet"))
        else Array(st)
      }
      .map(_.getPath).toSeq
  }

  /** Walk every (file, reader, row group, index) under the glob, collecting
    * `f`'s rows — the shared footer scaffold of the probes below.
    */
  private def footerRows[T](spark: SparkSession, pathGlob: String)(
      f: (Path, ParquetFileReader, BlockMetaData, Int) => Seq[T]): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    parquetFiles(spark, pathGlob).flatMap { file =>
      val reader = FileStats.openFooter(file, conf)
      try reader.getFooter.getBlocks.toArray.toSeq.zipWithIndex.flatMap {
        case (b: BlockMetaData, rg) => f(file, reader, b, rg)
        case _ => Seq.empty
      }
      finally reader.close()
    }
  }

  private def columnChunk(b: BlockMetaData, column: String): Option[ColumnChunkMetaData] =
    b.getColumns.toArray.collectFirst {
      case c: ColumnChunkMetaData if c.getPath.toDotString == column => c
    }

  /** Per-column, per-row-group physical parquet metadata: logical+physical
    * type, encodings, codec, sizes, value counts. Columns mirror what
    * test.sh:156-173 asserts on (dictionary encoding present, compression,
    * nanosecond logical type).
    */
  def parquetColumnMetadata(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    footerRows(spark, pathGlob) { (file, reader, b, rg) =>
      val schema = reader.getFooter.getFileMetaData.getSchema
      b.getColumns.toArray.toSeq.map {
        case c: ColumnChunkMetaData =>
          val path = c.getPath.toDotString
          val logical = Option(
            schema.getColumnDescription(c.getPath.toArray)
              .getPrimitiveType.getLogicalTypeAnnotation)
            .map(_.toString).getOrElse("")
          (file.getName, rg, path,
            c.getPrimitiveType.getPrimitiveTypeName.toString, logical,
            c.getEncodings.toArray.map(_.toString).sorted.mkString(","),
            c.getCodec.toString, c.getValueCount,
            c.getTotalSize, c.getTotalUncompressedSize)
      }
    }.toDF("file", "row_group", "column", "physical_type", "logical_type",
      "encodings", "codec", "num_values", "compressed_bytes", "uncompressed_bytes")
  }

  /** Per-row-group min/max statistics of one int64 column: the physical
    * layout evidence behind row-group pruning. Used to assert that a
    * compaction rewrite preserved `time_ns` clustering (near-disjoint
    * row-group ranges), i.e. that the engine's own `--since` pushdown still
    * prunes after ingest order was destroyed and re-established by sort.
    */
  def parquetRowGroupStats(spark: SparkSession, pathGlob: String,
      column: String): DataFrame = {
    import spark.implicits._
    def asLong(v: Comparable[_]): Long = v match {
      case n: Number => n.longValue()
      case other => other.toString.toLong
    }
    footerRows(spark, pathGlob) { (file, _, b, rg) =>
      columnChunk(b, column).toSeq
        .filter(c => c.getStatistics != null && !c.getStatistics.isEmpty)
        .map(c => (file.toString, rg, b.getRowCount,
          asLong(c.getStatistics.genericGetMin),
          asLong(c.getStatistics.genericGetMax)))
    }.toDF("file", "row_group", "num_rows", "min", "max")
  }

  /** Per-row-group min/max of one STRING column — the stats evidence
    * behind selector-column clustering: a `pod`-clustered rewrite shows
    * narrow (often single-value) per-row-group pod ranges, which is what
    * lets equality probes skip row groups from the footer alone.
    */
  def parquetRowGroupStringStats(spark: SparkSession, pathGlob: String,
      column: String): DataFrame = {
    import spark.implicits._
    footerRows(spark, pathGlob) { (file, _, b, rg) =>
      columnChunk(b, column).toSeq
        .filter(c => c.getStatistics != null && !c.getStatistics.isEmpty)
        .map(c => (file.toString, rg, b.getRowCount,
          c.getStatistics.minAsString, c.getStatistics.maxAsString))
    }.toDF("file", "row_group", "num_rows", "min", "max")
  }

  /** Per-row-group bloom-filter evidence for one column: whether the
    * filter was written, and — when `probe` values are given — whether the
    * filter can actually discriminate (a present value must hit; an absent
    * one should miss in most row groups). This is the physical proof
    * behind [[LogSchema.parquetBloomOptions]]: selector-equality queries
    * on hash-like columns (pod) prune row groups only if this filter
    * exists and answers.
    */
  def parquetBloomProbe(spark: SparkSession, pathGlob: String, column: String,
      probe: Seq[String] = Seq.empty): DataFrame = {
    import spark.implicits._
    footerRows(spark, pathGlob) { (file, reader, b, rg) =>
      columnChunk(b, column).toSeq.map { c =>
        val bloom = Option(reader.getBloomFilterDataReader(b))
          .flatMap(r => Option(r.readBloomFilter(c)))
        val hits = bloom.map { bf =>
          probe.map { v =>
            val bin = org.apache.parquet.io.api.Binary.fromString(v)
            (v, bf.findHash(bf.hash(bin)))
          }
        }.getOrElse(probe.map(v => (v, true))) // no filter: can't exclude
        (file.getName, rg, bloom.isDefined, c.getBloomFilterOffset,
          hits.collect { case (v, true) => v },
          hits.collect { case (v, false) => v })
      }
    }.toDF("file", "row_group", "has_bloom", "bloom_offset",
      "maybe_present", "excluded")
  }

  /** M1 as data: a DataFrame's schema rendered `name: TYPE` (y-logcli:267-273
    * prints the same header before table output).
    */
  def describe(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f => s"${f.name}: ${f.dataType.sql}")
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Pinned schemas + loaders for the driver test tables.
  *
  * The reference burned itself on schema inference three separate times and
  * ended up pinning explicit schemas everywhere (reference
  * `spark_transform.py:96-208` "prevent inferSchema issues",
  * `ingestion_script.py:59-179`, DDL in `ods_layer.py:54-160`). We adopt the
  * same rule: every source read carries a declared [[StructType]];
  * `inferSchema` is never used. For Parquet this also guarantees the scan's
  * `ReadSchema` is exactly what downstream needs — Catalyst prunes columns
  * against it.
  *
  * Scale note (100 TB): these loaders read a single file per table at test
  * scale but accept any path Spark can glob, so a production deployment
  * points them at a date-partitioned directory (`dt=YYYY-MM-DD/`) and gets
  * partition pruning (Catalyst `PruneFileSourcePartitions`) for free —
  * mirroring the reference's "latest Parquet per dataset" pruning
  * (`ods_layer.py:289-308`) declaratively instead of via S3 listing.
  */
object Tables {

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  /** events.ts arrives with whatever timestamp unit the upstream generator
    * chose — the fixture has shipped both TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across regenerations, so [[events]] derives the unit
    * from the parquet footer instead of assuming one (see [[tsUnit]]).
    * This is the nanos-layout variant (ts as raw long via
    * `spark.sql.legacy.parquet.nanosAsLong`); [[eventsSchema]] is the
    * native-timestamp variant used for MICROS/MILLIS files. */
  val eventsNanosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val eventsSchema: StructType = StructType(eventsNanosSchema.map(f =>
    if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** `dir` may be the raw driver layout (single `<name>.parquet` files)
    * OR a pipeline layer directory (`<name>/` parquet dirs as written by
    * [[graft.pipeline.Runner]]) — the loaders serve both, so the layered
    * pipeline can point every downstream query at the PREVIOUS layer's
    * output with the same call. One driver-side existence probe per
    * loaded table decides the layout (never per row). */
  private[graft] def isLayerDir(spark: SparkSession, dir: String,
      name: String): Boolean = {
    val raw = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(raw)
  }

  private def read(spark: SparkSession, dir: String, name: String,
                   schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(
      if (isLayerDir(spark, dir, name)) s"$dir/$name" else s"$dir/$name.parquet")

  def orders(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "orders", ordersSchema)
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "lineitem", lineitemSchema)
  def customer(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "customer", customerSchema)
  def supplier(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "supplier", supplierSchema)
  def nation(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "nation", nationSchema)
  def region(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "region", regionSchema)
  def part(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "part", partSchema)
  /** Parquet-declared time unit of the events `ts` column ("NANOS",
    * "MICROS" or "MILLIS"), read from the footer of the first data file —
    * NOT assumed. The driver has regenerated the fixture with a different
    * unit mid-build before (nanos → micros); assuming a unit silently lands
    * every event in 1970 when it drifts. The footer is authoritative and
    * costs one metadata read per [[events]] call.
    *
    * Also enforces a sanity bound from the footer's column statistics
    * (no data scan): the minimum `ts`, interpreted in the declared unit,
    * must fall in [1990, 2100). A unit/annotation drift that somehow slips
    * past the sniff fails HERE, loudly, instead of producing 1970 garbage
    * downstream. */
  private[graft] def tsUnit(spark: SparkSession, path: String): String = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .find(q => q.getName.endsWith(".parquet") && !q.getName.startsWith("_") &&
            !q.getName.startsWith("."))
          .getOrElse(sys.error(s"[graft] no parquet data files under $path"))
      else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val tsType = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
      if (tsType.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT96)
        // legacy Spark/Impala INT96 timestamp (julian-day+nanos struct, no
        // logical annotation) — Spark reads it natively to TimestampType;
        // its footer stats are unordered by spec, so skip the bound
        return "MICROS"
      val unit = tsType.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit.toString
        case other =>
          sys.error(s"[graft] events.ts in $file has logical type $other — " +
            "expected a TIMESTAMP annotation; refusing to guess the unit")
      }
      for {
        block <- footer.getBlocks.asScala.headOption
        col <- block.getColumns.asScala.find(_.getPath.toDotString == "ts")
        stats = col.getStatistics
        if stats != null && stats.hasNonNullValue
      } {
        val minRaw = stats.genericGetMin.asInstanceOf[Number].longValue()
        val minMicros = unit match {
          case "NANOS"  => minRaw / 1000L
          case "MICROS" => minRaw
          case "MILLIS" => minRaw * 1000L
          case u => sys.error(s"[graft] unsupported events.ts unit $u in $file")
        }
        val lo = 631152000000000L   // 1990-01-01T00:00Z in epoch micros
        val hi = 4102444800000000L  // 2100-01-01T00:00Z
        require(minMicros >= lo && minMicros < hi,
          s"[graft] events.ts sanity bound violated in $file: footer min " +
            s"${stats.genericGetMin} as $unit = $minMicros µs is outside " +
            "[1990-01-01, 2100-01-01) — the fixture's timestamp unit has " +
            "drifted; fix Tables.tsUnit before trusting any event query")
      }
      unit
    } finally reader.close()
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    val path =
      if (isLayerDir(spark, dir, "events")) s"$dir/events" else s"$dir/events.parquet"
    tsUnit(spark, path) match {
      case "NANOS" =>
        // Spark cannot map TIMESTAMP(NANOS) to TimestampType — read raw
        // longs and convert. Integer division, NOT `/` (double division
        // loses precision above 2^53 — epoch-nanos are ~1.7e18). The DIV
        // 1000 truncation matches what DuckDB applies on read, so engine
        // and oracle see identical microsecond timestamps.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.schema(eventsNanosSchema).parquet(path)
          .withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ =>
        // MICROS and MILLIS both map natively to TimestampType
        spark.read.schema(eventsSchema).parquet(path)
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "documents", documentsSchema)
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "embeddings", embeddingsSchema)

  /** Register every table as a temp view so `spark.sql(...)` is a
    * first-class query surface over the same pinned-schema loaders (the
    * reference's users speak SQL; a view is a pure plan alias, so SQL text
    * gets identical Catalyst treatment — pushdown, pruning, broadcast —
    * as the DataFrame API, verified in SqlSurfaceSpec). */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    orders(spark, dir).createOrReplaceTempView("orders")
    lineitem(spark, dir).createOrReplaceTempView("lineitem")
    customer(spark, dir).createOrReplaceTempView("customer")
    supplier(spark, dir).createOrReplaceTempView("supplier")
    nation(spark, dir).createOrReplaceTempView("nation")
    region(spark, dir).createOrReplaceTempView("region")
    part(spark, dir).createOrReplaceTempView("part")
    events(spark, dir).createOrReplaceTempView("events")
    documents(spark, dir).createOrReplaceTempView("documents")
    embeddings(spark, dir).createOrReplaceTempView("embeddings")
  }
}

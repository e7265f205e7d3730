package graft.sources

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.StructType

/** Loaders for the engine's canonical tables and their data contract.
  *
  * Mirrors the reference stack's source surface: the Druid datasources
  * (`druid-*-datasource.json`) declare a typed event table's schema up
  * front (`timestampSpec` + `dimensionsSpec`); here [[schemas]]
  * declares all ten tables once, in file column order. A table is
  * `<dir>/<name>.parquet`, either a single parquet file or a directory
  * of part files. It is read with its declared schema, so a load
  * starts no schema-inference job, and scans still get predicate
  * pushdown and column pruning from Catalyst.
  *
  * Every column is declared with the type Spark reads from its
  * physical type, except `events.ts`, declared `timestamp`: Spark reads
  * both the generated TIMESTAMP(MICROS, isAdjustedToUTC=false) files
  * (`timestamp_ntz` on disk) and UTC-adjusted (Spark-written) files
  * into it, with the same micros under the engine's UTC session.
  */
object Tables {
  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_LTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  val names: Seq[String] = schemas.keys.toSeq

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    checkContract(spark, name, path)
    spark.read.schema(schemas(name)).parquet(path)
  }

  /** Fail unless the first committed data file under `path` (a path
    * or glob) holds every column of `name`'s declared schema with a
    * type that reads as the declared one. Without it a missing column
    * would read back as NULLs. With no committed file there is nothing
    * to check: Spark reports a missing path itself, and a stream opened
    * before its first file lands starts on the declared schema.
    */
  private[graft] def checkContract(spark: SparkSession, name: String, path: String): Unit = {
    val found = footerTypes(spark, path).toMap
    for (f <- schemas(name).fields if found.nonEmpty) {
      val (want, got) = (f.dataType.simpleString, found.getOrElse(f.name, "(missing)"))
      require(got == want || (want == "timestamp" && got == "timestamp_ntz"),
        s"table $name at $path breaks its data contract: column ${f.name} " +
          s"is declared $want, found $got")
    }
  }

  /** On-disk column types, in file order, of the first committed data
    * file under `path` (a path or glob), named the way Spark's schema
    * inference names them; none when there is no such file. Committed
    * data files are the non-empty files with no hidden component
    * (leading `_` or `.`: `_temporary` spill dirs, `_SUCCESS` markers,
    * dot-files) below the matched entry's parent, so a source a
    * producer has created but not yet written has none. The types come
    * from the parquet footer, read on the driver: no Spark job starts.
    * A column Spark cannot read, such as a TIMESTAMP(NANOS) one, is
    * named by its parquet type.
    */
  private[sources] def footerTypes(spark: SparkSession, path: String): Seq[(String, String)] = {
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    val conf = spark.sessionState.newHadoopConf()
    val glob = new Path(path)
    val fs = glob.getFileSystem(conf)
    // globStatus is null when the parent dir is absent
    val committed = Option(fs.globStatus(glob)).toSeq.flatten.flatMap { root =>
      val base = root.getPath.getParent.toUri.getPath
      val it = fs.listFiles(root.getPath, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(f => f.getLen > 0 &&
          !f.getPath.toUri.getPath.stripPrefix(base).split("/").exists(hidden))
        .map(_.getPath)
    }
    committed.minByOption(_.toString).toSeq.flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
      val toSpark = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      schema.getFields.asScala.toSeq.map { f =>
        f.getName -> Try(toSpark.convert(new MessageType(schema.getName, f))
          .head.dataType.simpleString).getOrElse(f.toString)
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

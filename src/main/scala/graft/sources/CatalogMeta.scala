package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata/catalog surface — the engine-side analog of the
  * reference's OpenMetadata ingestion DAG
  * (app_airflow/app/dags/metadata_ingestion.py + app_openmetadata/
  * *-metadata-ingest.json): enumerate datasets, their schemas and
  * row counts as a queryable DataFrame.
  */
object CatalogMeta {

  /** One row per (table, column): name, type, plus table row counts.
    * Row counts run through the regular parquet reader as zero-column
    * count aggregates (metadata-only answers would need DSv2 aggregate
    * pushdown, `spark.sql.parquet.aggregatePushdown`, off by default);
    * the win here is job shape, not scan avoidance:
    *
    * Schema enumeration is driver-side metadata (footer reads — cheap
    * and unavoidable), but the row counts run as ONE unioned Spark job
    * whose per-table aggregates execute in parallel — the previous
    * per-table `df.count()` loop serialized N driver round-trips and
    * became the bottleneck at catalog scale (thousands of tables).
    */
  def describeTables(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    // the catalog reports ON-DISK types (storage, not the declared
    // contract): the generated events.ts is timestamp_ntz here
    val schemaRows = (for (t <- Tables.names;
        ((c, ty), i) <- Tables.footerTypes(spark, s"$dir/$t.parquet").zipWithIndex)
      yield (t, i, c, ty)).toDF("table_name", "ordinal", "column_name", "data_type")
    val counts = Tables.names.map { t =>
      Tables.load(spark, dir, t).agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("table_name"), col("n_rows"))
    }.reduce(_ unionByName _)
    schemaRows.join(broadcast(counts), Seq("table_name"))
      .select(col("table_name"), col("ordinal"), col("column_name"),
        col("data_type"), col("n_rows"))
      .orderBy(col("table_name"), col("ordinal"))
  }
}

package graft.sources

import org.apache.spark.sql.SparkSession

/** SQL-over-the-wire endpoint: the engine-side analog of the
  * reference's BI surface, where Superset issues SQL to Druid's
  * broker (reference README.md: Superset → Druid SQL; the
  * druid-*-datasource.json specs are what those queries hit). Here
  * the same role is served by Spark's Thrift JDBC/ODBC server
  * (HiveServer2 wire protocol) started IN-PROCESS over the live
  * session, with the graft catalog registered as views — any
  * JDBC/ODBC BI tool (Superset included) can connect and query every
  * table the engine serves.
  *
  * Scale shape: the server is a thin RPC front end — each SQL
  * statement plans and executes as a normal distributed Spark job, so
  * the endpoint adds no data-path bottleneck; concurrency is bounded
  * by the session scheduler (FAIR pools on a real cluster).
  * `singleSession` shares the owning session's temp views with every
  * connection, which is what makes the in-process catalog visible.
  */
object SqlServer {

  /** Register the sf tables as temp views and start the Thrift server
    * on `port`. Returns a stop handle. Reflection keeps the
    * hive-thriftserver dependency soft: the jar is on the runtime
    * classpath (it ships with every Spark distribution), but nothing
    * else in the library links against it.
    *
    * SINGLE-INSTANCE contract: HiveThriftServer2 is a JVM-global
    * singleton in Spark itself (a second `startWithContext` in one
    * process is not supported upstream), so one endpoint per JVM is
    * the hard ceiling, not a library limitation. `start` is
    * synchronized so a concurrent second caller cannot race the
    * port setting in the shared hadoopConfiguration — it serializes
    * behind the first and (like upstream) must stop the running
    * server before its own port takes effect.
    */
  def start(spark: SparkSession, dir: String, port: Int): AutoCloseable = synchronized {
    // GLOBAL temp views: each JDBC connection gets its own Spark
    // session, and globals are the session-crossing catalog that works
    // without the static singleSession conf (which can't be set on a
    // live session). Clients address them as global_temp.<table>; a
    // production deployment would instead persist the catalog to a
    // metastore (saveAsTable) and drop the prefix.
    Tables.names.foreach(t =>
      Tables.load(spark, dir, t).createOrReplaceGlobalTempView(t))
    spark.sparkContext.hadoopConfiguration
      .set("hive.server2.thrift.port", port.toString)
    // HiveThriftServer2.startWithContext(SQLContext): HiveThriftServer2
    val cls = Class.forName(
      "org.apache.spark.sql.hive.thriftserver.HiveThriftServer2")
    val server = cls
      .getMethod("startWithContext",
        Class.forName("org.apache.spark.sql.SQLContext"))
      .invoke(null, spark.sqlContext)
    () => server.getClass.getMethod("stop").invoke(server)
  }
}

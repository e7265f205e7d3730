package graft

import java.sql.DriverManager
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SqlServer

/** The BI surface: a real JDBC client (Hive wire protocol — what
  * Superset or any BI tool speaks) connects to the in-process Thrift
  * server and must see exactly what the engine computes directly.
  *
  * ONE server for the whole suite: HiveThriftServer2 is a JVM-global
  * singleton upstream (SqlServer.start documents the single-instance
  * contract), so the suite starts it once and every test shares it.
  */
class SqlServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Engine.builder("local[4]", 4).getOrCreate()
  val dir = "/root/testdata/sf0.001"
  private val port = 10000 + scala.util.Random.nextInt(40000)
  private var server: AutoCloseable = _

  override def beforeAll(): Unit = {
    server = SqlServer.start(spark, dir, port)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
  }
  override def afterAll(): Unit = if (server != null) server.close()

  /** Connect with a brief retry: the server needs a moment to bind. */
  private def connect(): java.sql.Connection = {
    var conn: java.sql.Connection = null
    var attempts = 0
    while (conn == null && attempts < 30) {
      try conn = DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/default", "", "")
      catch { case _: Exception => attempts += 1; Thread.sleep(1000) }
    }
    assert(conn != null, s"could not connect to thrift server on $port")
    conn
  }

  test("JDBC client over the Thrift endpoint matches direct engine SQL") {
    val sql =
      """SELECT n_name, count(*) AS n_cust
        FROM global_temp.customer JOIN global_temp.nation
          ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name"""
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val viaJdbc = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getString(1), r.getLong(2))).toList
      val direct = spark.sql(sql).collect()
        .map(r => (r.getString(0), r.getLong(1))).toList
      assert(viaJdbc == direct,
        s"jdbc=${viaJdbc.take(3)} direct=${direct.take(3)}")
      assert(viaJdbc.nonEmpty && viaJdbc.map(_._2).sum > 0)
    } finally conn.close()
  }

  test("two concurrent connections both complete and see the same catalog") {
    // the endpoint's concurrency claim (SqlServer.scala scale note):
    // each statement runs as a normal Spark job under the session
    // scheduler, so two simultaneous clients must BOTH finish and
    // read identical catalog state — no serialization failure, no
    // per-connection catalog drift
    val sql =
      """SELECT count(*) AS n, CAST(sum(c_acctbal) AS DECIMAL(18,2)) AS bal
        FROM global_temp.customer"""
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val tasks = (1 to 2).map { _ =>
        pool.submit(new Callable[(Long, java.math.BigDecimal)] {
          def call(): (Long, java.math.BigDecimal) = {
            val conn = connect()
            try {
              val rs = conn.createStatement().executeQuery(sql)
              assert(rs.next())
              (rs.getLong(1), rs.getBigDecimal(2))
            } finally conn.close()
          }
        })
      }
      val results = tasks.map(_.get(120, TimeUnit.SECONDS))
      assert(results(0) == results(1),
        s"concurrent connections saw different catalogs: $results")
      assert(results(0)._1 > 0)
    } finally pool.shutdownNow()
  }

  test("a JDBC client calls graft's native functions with direct engine SQL's values") {
    // each connection runs in its own newSession(), which carries the
    // functions Engine.builder installs; nothing registers them per
    // connection
    val sql =
      s"""SELECT n_nationkey, graft_nfc(concat(n_name, '${"e\u0301"}')) AS nfc,
          concat_ws('|', graft_regexp_groups(n_name, '([A-Z])([A-Z]+)')) AS g
        FROM global_temp.nation ORDER BY n_nationkey"""
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val viaJdbc = Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getInt(1), r.getString(2), r.getString(3))).toList
      val direct = spark.sql(sql).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toList
      assert(viaJdbc == direct, s"jdbc=${viaJdbc.take(3)} direct=${direct.take(3)}")
      assert(viaJdbc.nonEmpty && viaJdbc.forall(_._2.endsWith("\u00e9")))
      assert(viaJdbc.forall(_._3.count(_ == '|') == 1))
    } finally conn.close()
  }
}

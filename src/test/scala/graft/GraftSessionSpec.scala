package graft

import org.apache.spark.sql.internal.SQLConf

/** The suite's session is the engine's session: the defaults every main
  * builds with, and the SQL functions in every session of the context. */
class GraftSessionSpec extends SparkTestBase {

  test("the suite's session carries the engine's session defaults") {
    val conf = SparkTestBase.session.conf
    assert(conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key) == "UTC")
    assert(conf.get(SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key) == "128")
    assert(conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == "4")
  }

  test("a new session resolves the SQL functions with no register call") {
    val fresh = spark.newSession()
    val row = fresh.sql(
      """SELECT cosine_sim(array(1f, 0f), array(1f, 0f)) AS cs,
        |  size(minhash_sig(array('a', 'b', 'c'), 4, 2)) AS n""".stripMargin).head()
    assert(row.getDouble(0) == 1.0)
    assert(row.getInt(1) == 4)
  }
}

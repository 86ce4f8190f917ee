package graft

/** The correctness policy `Sessions` owns reaches the sessions it builds. */
class SessionsSpec extends SparkSpec {

  test("the shared test session carries the policy confs") {
    assert(spark.conf.get("spark.sql.unionOutputPartitioning") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.ui.enabled") == "false")
  }

  test("shm probe refuses a tmpfs below the free-space floor") {
    assert(Sessions.shm(Long.MaxValue).isEmpty)
  }
}

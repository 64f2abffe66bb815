package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions` path (README's cluster-wide registration):
  * a session built with GraftExtensions must expose the native SQL
  * functions and custom strategies with NO per-session
  * `functions.registerAll` / entry-point self-registration. The suite
  * builds a REAL second session over the shared SparkContext via the
  * builder's `withExtensions` hook — the same GraftExtensions instance a
  * cluster driver's `spark.sql.extensions=…GraftExtensions` conf loads
  * (the conf STRING itself is static: Spark reads it from the
  * SparkContext at first-session creation, so in this shared-context
  * test JVM only the programmatic hook can exercise the class). */
class ExtensionsSpec extends AnyFunSuite {

  // ensure a base session (and its context) exists, as in any shared run
  lazy val base: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("extensions-spec-base")
    .getOrCreate()

  private def withExtensionSession[A](f: SparkSession => A): A = {
    base // force init
    val prev = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions())
      .appName("extensions-spec")
      .getOrCreate()
    try f(s)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prev.foreach { p => SparkSession.setActiveSession(p); SparkSession.setDefaultSession(p) }
    }
  }

  test("a conf-built session exposes every native SQL function without registerAll") {
    withExtensionSession { s =>
      assert(s ne base, "builder must create a NEW session for the extension conf")
      assert(s.sql("SELECT zorder_key(5, 3)").head().getLong(0) === 27L)
      assert(s.sql("SELECT simhash_md5('alpha beta gamma')").head().getLong(0) ===
        org.apache.spark.sql.graft.ShingleOps.simhashMd5(
          org.apache.spark.unsafe.types.UTF8String.fromString("alpha beta gamma")))
      assert(s.sql("SELECT size(winnow_fingerprints('tiny', 32, 8))").head().getInt(0) === 1)
      assert(s.sql(
        "SELECT vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
          "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").head().getDouble(0) === 1.0)
      assert(s.sql("SELECT size(token_shingle_hashes('a b c d', 3))").head().getInt(0) === 2)
      assert(s.sql("SELECT int8_vec_dot(CAST('ab' AS BINARY), CAST('ba' AS BINARY))")
        .head().getLong(0) === 97L * 98 * 2)
      // the bounded top-k AGGREGATES register through the same path
      assert(s.sql(
        "SELECT top_k_struct(struct(v), 2) FROM VALUES (3L), (1L), (2L) AS t(v)")
        .head().getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0)) === Seq(1L, 2L))
      assert(s.sql(
        "SELECT top_k_struct_distinct(struct(v), 2) FROM VALUES (3L), (1L), (1L), (1L) AS t(v)")
        .head().getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0)) === Seq(1L, 3L))
    }
  }

  test("the injected planner strategies are present in the conf-built session") {
    withExtensionSession { s =>
      val strategies = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.planner.strategies
      assert(strategies.exists(_ eq org.apache.spark.sql.graft.AsOfJoinStrategy),
        "AsOfJoinStrategy must be injected via the extensions conf")
      assert(strategies.exists(_ eq org.apache.spark.sql.graft.TailStrategy),
        "TailStrategy must be injected via the extensions conf")
    }
  }

  test("a plain sibling session is untouched: no leaked temp functions") {
    // the extension functions are injected into the conf-built session's
    // registry only. Probe the REAL function name on a fresh sibling
    // session (new SessionState → new temp-function registry, never
    // touched by registerAll or the extensions conf): if injection ever
    // leaked into shared state, zorder_key would resolve here and this
    // test would catch it. (Probing the shared base session would be
    // vacuous the other way — other suites legitimately call registerAll
    // on it; probing a misspelled name was vacuous full stop.)
    val sibling = base.newSession()
    val err = intercept[Exception] {
      sibling.sql("SELECT zorder_key(1, 2)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("unresolved")
      || err.getMessage.contains("UNRESOLVED_ROUTINE"), err.getMessage.take(200))
  }
}

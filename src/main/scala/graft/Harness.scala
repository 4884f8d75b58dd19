package graft

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** The run settings every `main` shares, read from `SPARK_GRAFT_*`
  * environment variables. This is the one place that knows their
  * names, defaults and validation; the mains call it instead of
  * parsing the environment themselves. Like `EtlConfig.fromEnv`, each
  * reader is a pure function of the environment map, so tests pass a
  * `Map` instead of touching the process environment. A malformed
  * value fails fast with the variable named.
  */
object Harness {
  type Env = Map[String, String]

  private def positiveInt(env: Env, name: String): Option[Int] =
    env.get(name).map { v =>
      val n = v.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"$name: not an integer: '$v'"))
      require(n >= 1, s"$name must be >= 1, got $n")
      n
    }

  /** Local cores for the session: the host's processor count, the
    * same default `GraftSession.local` uses. */
  def cores(env: Env = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_CPUS")
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The corpus directory (TESTDATA.md layout). */
  def sfDir(env: Env = sys.env): String =
    env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Timed repetitions per query. */
  def reps(env: Env = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_REPS").getOrElse(3)

  /** `core` (the 22 q-queries, the per-commit tier) or `full`. */
  def tier(env: Env = sys.env): String = {
    val t = env.getOrElse("SPARK_GRAFT_TIER", "full")
    require(t == "full" || t == "core", s"SPARK_GRAFT_TIER must be core|full, got $t")
    t
  }

  /** A fresh JVM per query (Bench's bisect mode). */
  def isolate(env: Env = sys.env): Boolean =
    env.get("SPARK_GRAFT_ISOLATE").exists(v => v == "1" || v == "true")

  /** This JVM is a Bench isolate child reporting to its parent. */
  def isChild(env: Env = sys.env): Boolean =
    env.get("SPARK_GRAFT_CHILD").contains("1")

  /** An explicit artifact path; each main has its own default. */
  def out(env: Env = sys.env): Option[String] = env.get("SPARK_GRAFT_OUT")

  /** `SPARK_GRAFT_ONLY`, the subset filter for local iteration: `None`
    * when unset, else the named subset of `known`, announced on stderr
    * so a subset run never passes for a full one. */
  def subset(known: Set[String], env: Env = sys.env): Option[Set[String]] =
    env.get("SPARK_GRAFT_ONLY").map { list =>
      val names = pick(list, known, "SPARK_GRAFT_ONLY")
      System.err.println(s"[harness] SPARK_GRAFT_ONLY active: ${names.size} of ${known.size} names")
      names
    }

  /** Parse a comma list of names. A typo'd (or leaked) list silently
    * shrinking a run would print a legitimate-looking result, so a
    * name that matches nothing in `known` fails, listed in the
    * message. */
  def pick(list: String, known: Set[String], source: String): Set[String] = {
    val names = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- known
    require(unknown.isEmpty, s"$source: unknown names: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }

  /** StreamBench's scale ladder, `label=dir` pairs, e.g.
    * `x10=/tmp/sf1,x100=/tmp/sf10`. */
  def streamScales(env: Env = sys.env): Seq[(String, String)] =
    env.get("SPARK_GRAFT_STREAM_SCALES").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        // a bare `x10` (or a stray `=dir`) must fail with the entry
        // named, not an opaque MatchError from the extractor
        val parts = kv.split("=", 2)
        require(parts.length == 2 && parts(0).nonEmpty && parts(1).nonEmpty,
          s"SPARK_GRAFT_STREAM_SCALES entry '$kv' is malformed — expected label=dir")
        (parts(0), parts(1))
      }

  /** The session every main runs in: the library's own factory, so
    * the extensions are active and the shipped config is what runs. */
  def session(): SparkSession = {
    val spark = GraftSession.local(cores())
    GraftSession.muteBoundedWindowWarning()
    GraftSession.muteReleaseWarning()
    spark
  }

  /** Drop everything a query left held: the SQL cache, then every
    * persistent RDD still registered (localCheckpoints, ML-internal
    * caches). Clearing the cache first unregisters each cached table's
    * RDD, so every RDD is unpersisted once: two removals of one RDD
    * race, and the later one logs a WARN or an ERROR for a block
    * already gone. An operator's blocks stay readable while the
    * DataFrame it returned is reachable and until this release, which
    * frees a long-lived session; call it only after the query's results
    * are materialized: checkpoint blocks are the only copy of their
    * data. `blocking = true` waits for the persistent RDDs' block
    * removal, so the cost lands before whatever runs next, not inside
    * its clock; the SQL cache's blocks are always removed in the
    * background. */
  def release(spark: SparkSession, blocking: Boolean): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
  }
}

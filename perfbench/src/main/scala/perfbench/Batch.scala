package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Closed-loop batch workloads: one client runs a fixed list of registry
  * queries back to back, pass after pass, each query through the public
  * `SparkEntry.queries` entry point and a noop write (which evaluates the
  * full output, unlike count()).
  */
object Batch {

  final case class QuerySample(pass: Int, name: String, seconds: Double, ok: Boolean)

  final case class Result(samples: Seq[QuerySample], passSeconds: Seq[Double])

  def fn(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no registry query named $name"))

  /** Untimed warm pass that also writes every result (one parquet per
    * query) plus the DuckDB oracle SQL of those that have one, for the
    * correctness check. The queries run concurrently, `threads` at a time:
    * a cold JVM spends most of this pass compiling, which one thread cannot
    * spread over the cores. Returns each query's warm seconds, None if it
    * failed.
    */
  def warmAndDump(spark: SparkSession, dataDir: String, names: Seq[String],
                  outDir: String, threads: Int): Seq[(String, Option[Double])] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val warm = try {
      names.map { n =>
        pool.submit[(String, Option[Double])](() => {
          val t0 = System.nanoTime()
          n -> (try {
            fn(n)(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$n")
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $n failed: ${e.getMessage}"); None
          })
        })
      }.map(_.get())
    } finally pool.shutdown()
    val oracles = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.obj(oracles: _*))
    warm
  }

  /** Passes over `names` until `seconds` have elapsed (at least
    * `minPasses`), each pass in an order drawn from `seed`. With a tracer,
    * each query is a span with `build` and `action` children, and Spark
    * jobs are tagged with the child's id.
    */
  def run(spark: SparkSession, dataDir: String, names: Seq[String], seed: Long,
          seconds: Double, minPasses: Int, tracer: Option[Tracer], workload: String): Result = {
    val samples = ArrayBuffer[QuerySample]()
    val passes = ArrayBuffer[Double]()
    val sc = spark.sparkContext
    def layer[T](name: String, key: String, parent: Int)(body: Int => T): T = tracer match {
      case None => body(0)
      case Some(t) => t.span(name, key, parent) { id =>
        sc.setLocalProperty(LayerListener.SpanProperty, id.toString)
        try body(id) finally sc.setLocalProperty(LayerListener.SpanProperty, null)
      }
    }
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      new scala.util.Random(seed * 1000 + pass).shuffle(names).foreach { n =>
        val key = s"$workload/$pass/$n"
        val q0 = System.nanoTime()
        val ok = try {
          layer("query", key, 0) { q =>
            val df = layer("build", key, q)(_ => fn(n)(spark, dataDir))
            layer("action", key, q)(_ => df.write.format("noop").mode("overwrite").save())
          }
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $key failed: ${e.getMessage}"); false
        }
        samples += QuerySample(pass, n, (System.nanoTime() - q0) / 1e9, ok)
      }
      passes += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    Result(samples.toSeq, passes.toSeq)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}

/** Passes over `[EXT]` contract queries from `SparkEntry.queries`, one
  * closed-loop client, each query forced through the `noop` sink as
  * `graft.Bench` does. The corpus is the fixed read-only test data, so the
  * seed only permutes the order within a pass.
  *
  * The warm-up pass writes each answer to parquet for the DuckDB oracle
  * check; every timed answer must hash-equal its warm-up answer. The hash
  * rides on the timed job itself through `observe`, so no extra job runs. */
object LlmPipeline {
  /** One query per operator family: curation pipeline, embedding dedup,
    * graph and text. `ext_pipeline_e2e` and `ext_hits` are among the
    * queries with the most construction-time jobs. */
  val queries: Seq[String] = Seq(
    "ext_pipeline_e2e", "ext_semdedup", "ext_hits", "ext_bpe_pairs")

  val tables: Seq[String] = Seq("lineitem", "orders", "customer", "part",
    "supplier", "nation", "region", "events", "documents", "embeddings")

  val fullScale = "sf0.01"
  val smokeScale = "sf0.001"

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** `df` with an order-free answer hash observed on its own job. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = xxhash64(cols: _*)
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"),
      sum(pmod(h, lit(2147483647L))).as("s"), bit_xor(h).as("x")), obs)
  }

  def hashOf(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("s")}:${m("x")}"
  }

  def run(run: Main.Run): Unit = {
    val c = run.conf
    val sc = run.sc
    val dir = s"${c.testdata}/${if (c.smoke) smokeScale else fullScale}"
    run.info("corpus") = dir
    run.info("queries") = queries

    // input: open every corpus table (schema resolution), three times
    val opens = (1 to 3).map { _ =>
      val t = run.now
      tables.foreach(Tables(run.spark, dir, _))
      (run.now - t) / 1e9
    }
    run.setup("input_s") = opens.sorted.apply(1)

    def cleanup(): Unit = {
      // as graft.Bench does between queries: operators' persists stay in
      // the cache manager until a caller sweeps them
      run.spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    /** One query through the `noop` sink, its answer hash observed. */
    def query(q: String, pass: Int, traced: Boolean): Unit =
      run.op("query", q, pass, traced) { _ =>
        val df = Trace.span(sc, "operators.build", "build")(
          SparkEntry.queries(q)(run.spark, dir))
        if (Trace.on) Trace.span(sc, "catalyst.plan", "plan")(df.queryExecution.executedPlan)
        val (forced, obs) = observed(df)
        Trace.span(sc, "action.run", "action")(
          forced.write.format("noop").mode("overwrite").save())
        (hashOf(obs), Map.empty)
      }

    // warm-up: answers to parquet for the oracle check; the same order
    // for every seed, so every run starts its passes from the same JIT
    // profile
    val t = run.now
    queries.foreach { q =>
      run.op("warmup", q, -1, traced = false) { _ =>
        val (df, obs) = observed(SparkEntry.queries(q)(run.spark, dir))
        df.coalesce(1).write.mode("overwrite").parquet(s"${c.out}/answers/$q")
        (hashOf(obs), Map.empty)
      }
      cleanup()
    }
    val oracles = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Files.write(Paths.get(s"${c.out}/oracle_sql.json"),
      Main.jsonLine(oracles).getBytes(UTF_8))
    run.setup("warmup_s") = (run.now - t) / 1e9

    Main.passLoop(run) { (n, traced) =>
      new scala.util.Random(c.seed * 7919L + n).shuffle(queries).zipWithIndex.map { case (q, i) =>
        query(q, n, traced(i))
        run.sampleHeap()
        cleanup()
      }.size
    }
  }
}

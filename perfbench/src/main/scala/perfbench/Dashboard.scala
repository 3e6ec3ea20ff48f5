package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.car.{CarAnalytics, CarDataGen}
import graft.sources.{ApiEnvelope, Ingest}

/** The reference dashboard's GET endpoints over one `car_data` table, one
  * closed-loop client. Every request reads the table afresh, builds the
  * endpoint's DataFrame and returns through `ApiEnvelope.read`, as the
  * reference runs one `SELECT *` per request.
  *
  * The seed picks the table's rows, each endpoint's parameters and the
  * order of every timed pass; a pass sends each endpoint once, so the cost mix
  * is the same for every seed. The warm-up pass dumps its answers for the
  * DuckDB check; a timed answer must hash-equal the checked one. */
object Dashboard {
  final case class Req(endpoint: String, params: Seq[(String, String)]) {
    def key: String =
      (endpoint +: params.map { case (k, v) => s"$k=$v" }).mkString("&")
    def p(k: String): Option[String] = params.collectFirst { case (`k`, v) => v }
  }

  val fullRows = 50000L
  val smokeRows = 1000L

  /** One request per endpoint; the seed picks the parameters. */
  def requests(seed: Long): Seq[Req] = {
    val rng = new scala.util.Random(seed)
    val brands = CarDataGen.brandModels.map(_._1).toIndexedSeq
    val models = CarDataGen.brandModels
      .flatMap { case (b, ms) => ms.map(m => s"${b}_$m".replace(" ", "_")) }.toIndexedSeq
    def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.length))
    val lo = 100000 + rng.nextInt(300000)
    Seq(
      Req("fetchCarData", Nil),
      Req("cityRankings", Seq("metric" -> "registrations")),
      Req("trendMetric", Seq("metric" -> pick(IndexedSeq("registrations", "attention", "avg_price")))),
      Req("preferencesByDimension", Seq("dimension" -> "type")),
      Req("brands", Nil),
      Req("brandModels", Seq("brand" -> pick(brands))),
      Req("modelDetails", Seq("model_id" -> pick(models))),
      // the same conjunct shape for every seed, so its selectivity is stable
      Req("recommendations", Seq("brand" -> pick(brands), "min_price" -> lo.toString,
        "max_price" -> (lo + 150000).toString,
        "min_horsepower" -> (100 + rng.nextInt(100)).toString)),
      Req("marketOverview", Nil),
      Req("popularBrands", Nil),
      Req("priceDistribution", Nil))
  }

  /** Pass `n`: every request once, in a seeded order. */
  def pass(reqs: Seq[Req], seed: Long, n: Int): Seq[Req] =
    new scala.util.Random(seed * 7919L + n).shuffle(reqs)

  def build(spark: SparkSession, cars: DataFrame, r: Req): DataFrame = r.endpoint match {
    case "fetchCarData" => CarAnalytics.fetchCarData(cars)
    case "cityRankings" => CarAnalytics.cityRankings(cars, r.p("metric").get)
    case "trendMetric" => CarAnalytics.trendMetric(cars, r.p("metric").get)
    case "preferencesByDimension" =>
      CarAnalytics.preferencesByDimension(spark, cars, r.p("dimension").get)
    case "brands" => CarAnalytics.brands(cars)
    case "brandModels" => CarAnalytics.brandModels(cars, r.p("brand").get)
    case "modelDetails" => CarAnalytics.modelDetails(cars, r.p("model_id").get)
    case "recommendations" => CarAnalytics.recommendations(cars,
      brand = r.p("brand"),
      minPrice = r.p("min_price").map(_.toDouble),
      maxPrice = r.p("max_price").map(_.toDouble),
      minHorsepower = r.p("min_horsepower").map(_.toInt),
      doors = r.p("doors").map(_.toInt),
      carType = r.p("car_type"))
    case "marketOverview" => CarAnalytics.marketOverview(cars)
    case "popularBrands" => CarAnalytics.popularBrands(cars)
    case "priceDistribution" => CarAnalytics.priceDistribution(spark, cars)
  }

  private val rowsRe = "读取 (\\d+) 行数据".r.unanchored

  /** Serves one request against `<dataDir>/car_data.parquet`; returns the
    * envelope and the op's layer attributes. `beforeAction` runs once the
    * table is listed and the DataFrame built, just before the action. */
  def serve(run: Main.Run, dataDir: String, r: Req,
      beforeAction: () => Unit = () => ()): (String, Map[String, Double]) = {
    val sc = run.sc
    var files = 0.0
    val cars = Trace.span(sc, "tables.load", "load") {
      val df = Tables(run.spark, dataDir, "car_data")
      if (Trace.on) files = df.inputFiles.length.toDouble
      df
    }
    val df = Trace.span(sc, "car.build", "build")(build(run.spark, cars, r))
    if (Trace.on) Trace.span(sc, "catalyst.plan", "plan")(df.queryExecution.executedPlan)
    beforeAction()
    val env = Trace.span(sc, "envelope.read", "action")(ApiEnvelope.read(df, "car_data"))
    val rows = env match { case rowsRe(n) => n.toDouble; case _ => -1.0 }
    val attrs = Map("envelope.rows" -> rows, "envelope.bytes" -> env.length.toDouble) ++
      (if (Trace.on) Map("table.files_at_read" -> files) else Map.empty)
    (env, attrs)
  }

  def hash(s: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(s)}%08x-${s.length}"

  /** Writes the table `Ingest.createTable` builds, three times; returns
    * the median write time. */
  def generate(run: Main.Run, dataDir: String, rows: Long): Double = {
    val times = (1 to 3).map { _ =>
      val t = run.now
      Ingest.createTable(CarDataGen.generate(run.spark, rows, run.conf.seed),
        s"$dataDir/car_data.parquet")
      (run.now - t) / 1e9
    }
    times.sorted.apply(1)
  }

  /** The warm-up pass: every request once, in the same endpoint order for
    * every seed, its answers dumped to `answers_dashboard.jsonl` for the
    * DuckDB check. */
  def warmup(run: Main.Run, dataDir: String, reqs: Seq[Req]): Unit = {
    val answers = new StringBuilder
    reqs.foreach { r =>
      var env = ""
      run.op("warmup", r.key, -1, traced = false) { _ =>
        val (e, a) = serve(run, dataDir, r)
        env = e
        (hash(e), a)
      }
      answers ++= Main.jsonLine(Map("key" -> r.key, "endpoint" -> r.endpoint,
        "params" -> r.params.toMap, "hash" -> hash(env), "envelope" -> env))
    }
    Files.write(Paths.get(s"${run.conf.out}/answers_dashboard.jsonl"),
      answers.toString.getBytes(UTF_8))
  }

  def run(run: Main.Run): Unit = {
    val c = run.conf
    val dataDir = s"${c.out}/data"
    val rows = if (c.smoke) smokeRows else fullRows
    run.setup("input_s") = generate(run, dataDir, rows)
    run.info("table_rows") = rows
    val reqs = requests(c.seed)

    val t = run.now
    warmup(run, dataDir, reqs)
    run.setup("warmup_s") = (run.now - t) / 1e9

    Main.passLoop(run) { (n, traced) =>
      val k = pass(reqs, c.seed, n).zipWithIndex.map { case (r, i) =>
        run.op("request", r.key, n, traced(i)) { _ =>
          val (env, a) = serve(run, dataDir, r)
          (hash(env), a)
        }
      }.size
      run.sampleHeap()
      k
    }
  }
}

package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletableFuture, ExecutionException, TimeUnit, TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.model.Pipeline
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two benchmark workloads and the defect probes. Each workload
  * runs its cycle at least once and repeats it until `--seconds` have
  * passed; every op's output is captured or checked after its timed
  * region ends. */
object Workloads {

  private def timeUp(h: Harness, t0: Long, done: Int, min: Int): Boolean =
    done >= min && (System.nanoTime() - t0) / 1e9 >= h.a.seconds

  // ---------------------------------------------------------------- ETL

  /** Star tables in load order: dims, then facts. */
  val tables = Seq("dim_season", "dim_team", "dim_stadium", "dim_player",
    "dim_match", "fact_team_point", "fact_team_match", "fact_player_match")

  def rawInputs(h: Harness, dir: String): Pipeline.RawInputs = {
    val s = h.spark
    Pipeline.RawInputs(
      playerSeasonStats = Sources.csvTwoRowHeader(s, s"$dir/player_season_stats.csv"),
      playerMatchStats = Sources.csvRaw(s, s"$dir/player_match_stats"),
      teamMatch = Sources.csvRaw(s, s"$dir/team_match.csv"),
      teamPoint = Sources.csvRaw(s, s"$dir/team_point.csv"),
      teamSeed = Sources.csvRaw(s, s"$dir/team_seed.csv"),
      stadiumSeed = Sources.csvRaw(s, s"$dir/stadium_seed.csv"))
  }

  /** Extract → Transform → Load of one raw tier into `wh`; each table
    * is loaded through `Pipeline.load` with a one-table map so its
    * write is timed on its own. */
  def etlOp(h: Harness, name: String, phase: String, rep: Int,
            rawDir: String, wh: String): Map[String, Any] =
    h.op(name, "etl", phase, rep) { part =>
      val raw = part("sources.read")(rawInputs(h, rawDir))
      val star = part("model.build_star")(Pipeline.buildStar(h.spark, raw))
      for (t <- tables)
        part(s"model.load.$t")(Pipeline.load(h.spark, wh, Map(t -> star(t))))
      Map.empty
    }

  /** Hard links of every file of the star's tables in `wh` under
    * `dst`: the warehouse as an ETL op left it, for run.py to check
    * after the run (a later load replaces the files, never rewrites
    * them in place). */
  def snapshot(wh: String, dst: String): Unit = for (t <- tables) {
    val src = Paths.get(wh, t)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val d = Paths.get(dst, t).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.createLink(d, p)
    } finally walk.close()
  }

  // ---------------------------------------------------------- dashboard

  final case class Shape(name: String, sql: String)

  /** The reference dashboard's query shapes (`dashboard.sql`, blocks
    * headed "-- name: <shape> ..."), served against one warehouse. */
  final class Dashboard(h: Harness, sqlFile: String) {
    val all: Seq[Shape] = {
      val text = new String(Files.readAllBytes(Paths.get(sqlFile)), "UTF-8")
      text.split("(?m)^-- name: ").toSeq.drop(1).map { block =>
        val (head, body) = block.span(_ != '\n')
        Shape(head.trim.split("\\s+").head, body.trim)
      }
    }
    private val rng = new scala.util.Random(h.a.seed)
    private var seasons = Seq.empty[String]
    private var teams = Seq.empty[String]
    private var wh = ""

    /** Points the views at warehouse `dir`, with the names scr/Load.py
      * gives the warehouse (dim_match's match_id/match_name/match_date,
      * dim_player's player_name). */
    def open(dir: String): Unit = {
      wh = dir
      val s = h.spark
      for (t <- Seq("fact_team_point", "fact_team_match", "fact_player_match",
        "dim_team", "dim_season"))
        s.read.parquet(s"$wh/$t").createOrReplaceTempView(t)
      s.read.parquet(s"$wh/dim_match")
        .select(col("game_id").as("match_id"), col("game").as("match_name"),
          col("date").as("match_date"), col("round"), col("day"))
        .createOrReplaceTempView("dim_match")
      s.read.parquet(s"$wh/dim_player")
        .select(col("player_id"), col("player").as("player_name"), col("pos"),
          col("nation"), col("born"))
        .createOrReplaceTempView("dim_player")
      seasons = s.table("dim_season").select("season_name").collect()
        .map(_.getString(0)).sorted.toSeq
      teams = s.table("dim_team").select("team_name").collect()
        .map(_.getString(0)).sorted.toSeq
    }

    private def literal(v: String): String =
      "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    private def request(shape: Shape, season: String, team: String,
                        phase: String, rep: Int): Unit = {
      val sql = shape.sql.replace(":season", literal(season)).replace(":team", literal(team))
      h.op(shape.name, "dashboard", phase, rep) { part =>
        val df = part("plans.plan") {
          val d = h.spark.sql(sql)
          d.queryExecution.executedPlan
          d
        }
        val rows = part.run(df.collect())
        h.planFields(df) ++ Map("season" -> season, "team" -> team, "warehouse" -> wh,
          "columns" -> df.columns.toSeq, "rows" -> Harness.jsonRows(rows),
          "n_rows" -> rows.length)
      }
    }

    def warmup(): Unit = for (s <- all) request(s, seasons.last, teams.head, "warmup", 0)

    /** One closed-loop client, no think time: `rounds` rounds of the
      * shapes, each round in seeded order with seeded parameters, so
      * every run sees the same mix of shapes. */
    def serve(rep: Int, rounds: Int): Unit =
      for ((s, i) <- Seq.fill(rounds)(rng.shuffle(all)).flatten.zipWithIndex) {
        request(s, seasons(rng.nextInt(seasons.size)), teams(rng.nextInt(teams.size)),
          "timed", rep)
        if (i % 3 == 2) h.floor()
      }
  }

  /** The weekly cycle, as the reference's weekly job runs it in a
    * fresh process: a cold load and a weekly merge-load of the seeded
    * raw (the first of them pays the JVM's warm-up, as every weekly
    * run does), then the dashboard's reads against the warehouse just
    * written. The weekly raw is loaded twice, as a weekly job re-run on
    * unchanged input: both loads are timed, and the second must leave
    * every table as the first left it. Each cycle
    * loads into a warehouse of its own, kept until the run ends, so
    * that run.py can check every request against the files it read. */
  def etlWeekly(h: Harness, raw: String, sqlFile: String, rounds: Int): Unit = {
    val runs = Paths.get(h.a.runDir, "wh")
    val dash = new Dashboard(h, sqlFile)
    val checks = ArrayBuffer[Map[String, Any]]()
    def etlChecked(name: String, phase: String, rep: Int, tier: String, wh: String): Unit = {
      val op = etlOp(h, name, phase, rep, s"$raw/$tier", wh)
      val snap = Paths.get(h.a.runDir, "snap", s"op${op("op")}").toString
      checks += Map("op" -> op("op"), "tier" -> tier) ++
        (try { snapshot(wh, snap); Map("snapshot" -> snap) }
         catch { case NonFatal(e) => Map("error" -> e.toString.take(2000)) })
    }
    val t0 = System.nanoTime()
    var rep = 0
    while (!timeUp(h, t0, rep, 1)) {
      rep += 1
      val wh = runs.resolve(s"rep$rep").toString
      etlChecked("etl_full", "timed", rep, "cold", wh)
      h.floor()
      etlChecked("etl_weekly", "timed", rep, "weekly", wh)
      h.floor()
      etlChecked("etl_weekly", "timed", rep, "weekly", wh)
      val opened = h.op("dashboard_open", "setup", "setup", rep) { _ => dash.open(wh); Map.empty }
      if (!opened.contains("error")) {
        if (rep == 1) dash.warmup()
        dash.serve(rep, rounds)
      }
    }
    h.notes("etl_checks") = checks.toSeq
    h.notes("table_keys") = Pipeline.keys
  }

  /** The reference's raw shape that the ETL workload does not read:
    * FBref's two-row header on the player-match file. The cold tier,
    * with `player_match_two_row.csv` (its player-match rows) read by
    * `Sources.csvTwoRowHeader`, is built into the star, its
    * fact_player_match loaded into an empty warehouse and counted there.
    * The work runs in a worker thread given `limitS` seconds; an op not
    * done by then is recorded as failed and its thread is left to the
    * JVM's exit. */
  def twoRowHeaderOp(h: Harness, raw: String, limitS: Double): Unit = {
    val done = new CompletableFuture[Long]()
    val worker = new Thread(() =>
      try {
        val s = h.spark
        val wh = s"${h.a.runDir}/wh_two_row"
        val in = rawInputs(h, s"$raw/cold").copy(playerMatchStats =
          Sources.csvTwoRowHeader(s, s"$raw/player_match_two_row.csv"))
        Pipeline.load(s, wh,
          Map("fact_player_match" -> Pipeline.buildStar(s, in)("fact_player_match")))
        done.complete(s.read.parquet(s"$wh/fact_player_match").count())
      } catch { case e: Throwable => done.completeExceptionally(e) },
      "two-row-header")
    worker.setDaemon(true)
    h.op("etl_two_row_header", "etl_probe", "probe", 0) { _ =>
      worker.start()
      val n = try done.get((limitS * 1000).toLong, TimeUnit.MILLISECONDS) catch {
        case _: TimeoutException =>
          sys.error(s"loading fact_player_match from the two-row header " +
            s"did not finish within $limitS s")
        case e: ExecutionException => sys.error(s"failed: ${e.getCause}")
      }
      Map("n_rows" -> n)
    }
  }

  // ---------------------------------------------------------- analytics

  /** Fixed run order, (query name, family): a heavy shipping registry
    * query per family whose DuckDB oracle checks within the run's
    * budget (d07's takes minutes at sf0.1). */
  val analyticsOps: Seq[(String, String)] = Seq(
    "q71_basket_pairs" -> "relational",
    "q66_pagerank" -> "graph",
    "d12_substring_dedup" -> "text_dedup",
    "s03_cosine_topk_ivf" -> "vector",
    "st16_stream_full_outer_join" -> "stream")

  /** The relational queries that disagree with their DuckDB oracle on
    * some corpora (an octile boundary on an exact half cent). q83 runs
    * before q93, so q83 pays for the octile boundary table the two share. */
  val octileOps: Seq[(String, String)] = Seq(
    "q83_equidepth_histogram" -> "relational",
    "q93_equidepth_kll" -> "relational")

  /** One pass over `ops`; each result is saved under `outDir` (outside
    * the timed region) with the oracle SQL, in the layout tools/check.py
    * reads. */
  def analyticsPass(h: Harness, corpus: String, pass: Int, outDir: String,
                    ops: Seq[(String, String)] = analyticsOps): Unit = {
    val defs = graft.queries.Registry.production.map(q => q.name -> q).toMap
    h.spark.catalog.clearCache()
    for ((name, family) <- ops) {
      val q = defs(name)
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      var df: DataFrame = null
      val rec = h.op(name, "analytics", "timed", pass) { part =>
        df = part("queries.build")(q.build(h.spark, corpus))
        part("plans.plan")(df.queryExecution.executedPlan)
        rows = part.run(df.collect())
        h.planFields(df) ++ Map("family" -> family, "n_rows" -> rows.length)
      }
      if (!rec.contains("error"))
        h.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      h.floor()
    }
    val oracles = ops.flatMap { case (n, _) => defs(n).oracle.map(n -> _.trim) }.toMap
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), Json.bytes(oracles))
  }

  /** The registry batch, as a fresh-JVM batch job runs it: timed
    * passes over the seeded corpus until `--seconds` have passed, the
    * first of which pays the JVM's warm-up. */
  def analytics(h: Harness, corpus: String): Unit = {
    val dirs = ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    var n = 0
    while (!timeUp(h, t0, n, 1)) {
      n += 1
      val out = Paths.get(h.a.runDir, "results", s"pass$n").toString
      analyticsPass(h, corpus, n, out)
      dirs += Map("pass" -> n, "dir" -> out, "corpus" -> corpus)
    }
    h.notes("result_dirs") = dirs.toSeq
  }

  /** Ops the program is known to fail on some or all inputs, kept
    * out of the two workloads so that their figures measure work that
    * completes: one checked pass of [[octileOps]] over the seeded
    * corpus, then the two-row-header load (last: it may leave its
    * worker thread running). */
  def defectProbes(h: Harness, raw: String, corpus: String, limitS: Double): Unit = {
    val out = Paths.get(h.a.runDir, "results", "pass1").toString
    analyticsPass(h, corpus, 1, out, octileOps)
    h.notes("result_dirs") = Seq(Map("pass" -> 1, "dir" -> out, "corpus" -> corpus))
    h.notes("octile_payer") = octileOps.head._1
    twoRowHeaderOp(h, raw, limitS)
  }
}

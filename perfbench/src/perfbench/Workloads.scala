package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.analytics.{AqsQueries, Caches, Exact, PipelineQueries, TempDirs}
import graft.operators.{Cleaning, DimBuild}
import graft.pipeline.{BronzeToSilver, SilverToGold}
import graft.pipeline.SilverToGold.Gold
import graft.sources.{GraftCatalog, GraftMaintenance}

/** A correctness check attached to an op. `oracle.py` resolves the
  * DuckDB-side kinds; `equal` carries both sides from the JVM. */
final case class Check(kind: String, fields: Map[String, Any]) {
  def toMap: Map[String, Any] = fields + ("kind" -> kind)
}

/** What one op returns besides its latency. */
final case class OpOut(inputRows: Long, resultRows: Long, checks: Seq[Check],
                       params: Map[String, Any] = Map.empty,
                       keepRatios: Option[(Double, Double)] = None,
                       deltaBytes: Long = 0L, curationKeep: Double = 0.0)

/** One benchmark workload: set-up, the timed ops, and the read that
  * follows each op. */
trait Workload {
  def name: String
  /** Oracle queries (`SparkEntry.oracleSql` keys) `oracle.py` needs. */
  def oracleQueries: Seq[String]
  def setup(): Unit
  /** Untimed ops after set-up, so timing starts warm; returns their checks. */
  def warmup(): Seq[Check]
  /** Timed ops one JVM runs for a run of `seconds`. */
  def plannedOps(seconds: Double): Int
  def op(i: Int, tr: Option[Tracer]): OpOut
  /** Read of what the op just committed, when the workload has one;
    * returns its checks. */
  def freshRead(i: Int, tr: Option[Tracer]): Option[Seq[Check]]
  /** Runs after the timed ops: checks of the end state. */
  def finish(): Seq[Check] = Nil
  /** An op's check as it stands once `finish` has run. */
  def resolve(c: Check): Check = c
  /** Traced runs only: the op split call by call, each call's output
    * materialized, run after the timed ops. Its spans feed the
    * `pipeline.*` and write-path `sources.*` figures, never `spark.*`. */
  def breakdown(tr: Tracer): Option[OpOut] = None
  /** Traced runs only: the curation flagship as a side op after the
    * breakdown, under its own op id with the listener attached. It feeds
    * only the `curation.*` figures and the top-stages artifact. */
  def curation(tr: Tracer): Option[OpOut] = None
  /** Catalog holding the state the last op left, for the storage census. */
  def liveCatalog: Option[String]
}

/** Helpers shared by the workloads. */
final class Env(val spark: SparkSession, val inputs: String, val seed: Long) {
  def digest(df: DataFrame): (String, Long) = {
    val rows = df.collect().toSeq
    (Canon.digest(df.columns.toSeq, rows), rows.length.toLong)
  }

  /** A fresh durable GraftCatalog over its own scratch warehouse. */
  def newCatalog(prefix: String): String = {
    val cat = s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", TempDirs.scratch(s"perfbench-$prefix"))
    cat
  }

  def catalogs(prefix: String): Set[String] =
    spark.conf.getAll.keys.collect {
      case k if k.startsWith(s"spark.sql.catalog.${prefix}_") && k.count(_ == '.') == 3 =>
        k.stripPrefix("spark.sql.catalog.")
    }.toSet

  def warehouse(cat: String): Path = Paths.get(spark.conf.get(s"spark.sql.catalog.$cat.warehouse"))

  def span[T](tr: Option[Tracer], name: String)(f: => T): T =
    tr.fold(f)(_.span(name)(f))

  /** Persist, materialize and count (a traced call's output is billed). */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = Caches.persistTracked(df)
    (p, p.count())
  }

  /** The harness population side input (state → population), as the
    * composed lifecycles derive it from the bronze feed. */
  def population(bronze: DataFrame): DataFrame =
    bronze.select(col("state_code")).distinct()
      .withColumn("population", (col("state_code").cast("int") * 100000 + 7).cast("int"))

  /** The gold aggregate of the composed lifecycle over the AqsQueries star:
    * the same columns `SparkEntry.oracleSql("g2_gold_lakehouse")` returns. */
  def goldAgg(g: Gold): DataFrame =
    AqsQueries.star(g)
      .groupBy("year", "region", "parameter_name", "category", "aqi_category")
      .agg(
        count(lit(1)).as("n_meas"),
        size(collect_set(col("location_key"))).cast("long").as("n_sites"),
        size(collect_set(col("method_key"))).cast("long").as("n_methods"),
        sum(when(col("exceeds_standard"), 1L).otherwise(0L)).as("n_exceed"),
        Exact.dsum(col("arithmetic_mean")).as("mean_sum"),
        max(col("aqi")).as("max_aqi"),
        sum(col("observation_count").cast("long")).as("n_obs"),
        max(col("population")).as("max_pop"))

  val goldTables = Seq("dim_date", "dim_location", "dim_parameter", "dim_method", "fact")

  def loadGold(cat: String): Gold = {
    val t = goldTables.map(n => spark.table(s"$cat.ns.$n"))
    Gold(t(0), t(1), t(2), t(3), t(4))
  }

  def fileBytes(path: String): Long =
    Files.walk(Paths.get(path)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** `medallion_batch`: the composed bronze → silver → gold lifecycle on the
  * lakehouse (`g2_gold_lakehouse`), result collected. Every timed op, traced
  * or not, is the program's own g2. A traced run adds the breakdown: the
  * same lifecycle call by call, each call's output materialized; then the
  * curation flagship (`c2_curation_lakehouse`) over a fixed corpus, the
  * only run of the `plans` codegen expressions, the text functions and
  * `operators.ConnectedComponents`. */
final class MedallionBatch(env: Env) extends Workload {
  import env._
  val name = "medallion_batch"
  private val query = "g2_gold_lakehouse"
  private val c2 = "c2_curation_lakehouse"
  val oracleQueries = Seq(query, c2)
  private lazy val bronzeRows = spark.read.parquet(s"$inputs/lineitem.parquet").count()
  private var last: Option[String] = None

  def setup(): Unit = bronzeRows

  /** None: a weekly batch job is a fresh application, so the first op
    * in the JVM is the one a user waits for. */
  def warmup(): Seq[Check] = Nil

  /** One: `run.py` starts one application per op. */
  def plannedOps(seconds: Double): Int = 1

  def op(i: Int, tr: Option[Tracer]): OpOut = {
    val before = catalogs("g2c")
    val (d, n) = span(tr, s"query.$query")(digest(SparkEntry.queries(query)(spark, inputs)))
    last = (catalogs("g2c") -- before).headOption
    OpOut(bronzeRows, n, Seq(Check("oracle", Map("query" -> query, "digest" -> d))),
      deltaBytes = fileBytes(s"$inputs/lineitem.parquet"))
  }

  override def breakdown(tr: Tracer): Option[OpOut] = {
    val t = Some(tr)
    val cat = newCatalog("mbt")
    val sv = s"$cat.ns.silver"
    val (bronze, nBronze) = span(t, "pipeline.bronze") {
      materialize(PipelineQueries.bronzeFromLineitem(spark, inputs))
    }
    val nClean = Cleaning.validityFilter(Cleaning.typeConform(Cleaning.cleanStandard(bronze))).count()
    val (meas, nMeas) = span(t, "pipeline.silver_measurement") {
      materialize(BronzeToSilver.measurement(bronze))
    }
    // the lifecycle's two date-cut increments: CTAS, then insert-only MERGE
    val cut = lit("1995-06-30")
    span(t, "sources.ctas") {
      meas.filter(col("date_local") <= cut).writeTo(sv).partitionedBy(col("state_code")).create()
    }
    span(t, "sources.merge") {
      meas.filter(col("date_local") > cut).createOrReplaceTempView("perfbench_incr")
      val on = graft.model.Schemas.measurementKey.map(c => s"t.$c = s.$c").mkString(" AND ")
      spark.sql(s"MERGE INTO $sv t USING perfbench_incr s ON $on WHEN NOT MATCHED THEN INSERT *")
    }
    val silverT = spark.table(sv)
    val ent = span(t, "pipeline.silver_entities") {
      Seq(BronzeToSilver.site(bronze), BronzeToSilver.adminArea(bronze),
        BronzeToSilver.parameter(bronze), BronzeToSilver.method(bronze),
        BronzeToSilver.cbsa(bronze), population(bronze)).map(df => materialize(df)._1)
    }
    def publish(n: String, df: DataFrame): DataFrame = {
      span(t, "sources.ctas")(df.writeTo(s"$cat.ns.$n").create())
      spark.table(s"$cat.ns.$n")
    }
    val keys = DimBuild.HashKeys
    val (dd, dl, dp, dm) = span(t, "pipeline.dims") {
      (publish("dim_date", SilverToGold.dimDate(silverT, keys)),
        publish("dim_location", SilverToGold.dimLocation(ent(0), ent(1), ent(4), ent(5), keys)),
        publish("dim_parameter", SilverToGold.dimParameter(ent(2), keys)),
        publish("dim_method", SilverToGold.dimMethod(ent(3), keys)))
    }
    val (fact, _) = span(t, "pipeline.fact") {
      materialize(SilverToGold.fact(silverT, dd, dl, dp, dm))
    }
    val gold = goldAgg(Gold(dd, dl, dp, dm, fact))
    val (d, n) = span(t, "pipeline.gold_agg")(digest(gold))
    // maintenance after the batch: compact the merged silver
    span(t, "sources.optimize")(GraftMaintenance.sql(spark, s"OPTIMIZE $sv").collect())
    val nSilver = spark.table(sv).count()
    Some(OpOut(nBronze, n, Seq(Check("oracle", Map("query" -> query, "digest" -> d)),
      Check("oracle_sum", Map("query" -> query, "column" -> "n_meas", "got" -> nSilver))),
      keepRatios = Some((nClean.toDouble / nBronze, nMeas.toDouble / nClean))))
  }

  override def curation(tr: Tracer): Option[OpOut] = {
    val docs = spark.read.parquet(s"$inputs/documents.parquet").count()
    val before = catalogs("c2c")
    val (cols, rows) = span(Some(tr), "curation.c2") {
      val df = SparkEntry.queries(c2)(spark, inputs)
      (df.columns.toSeq, df.collect().toSeq)
    }
    val cat = (catalogs("c2c") -- before).head
    val kept = rows.map(_.getAs[Long]("n_final")).sum
    val n = spark.table(s"$cat.ns.c2_final").agg(count(lit(1)), sum(col("n_chars"))).head().getLong(0)
    Some(OpOut(docs, rows.length, Seq(Check("oracle", Map("query" -> c2, "digest" -> Canon.digest(cols, rows))),
      Check("oracle_sum", Map("query" -> c2, "column" -> "n_final", "got" -> n))),
      curationKeep = kept.toDouble / docs))
  }

  def freshRead(i: Int, tr: Option[Tracer]): Option[Seq[Check]] = {
    val n = span(tr, "sources.load_table")(spark.table(s"${last.get}.ns.g2_silver"))
      .agg(count(lit(1)), sum(col("aqi"))).head().getLong(0)
    Some(Seq(Check("oracle_sum", Map("query" -> query, "column" -> "n_meas", "got" -> n))))
  }

  def liveCatalog: Option[String] = last
}

/** `gold_serving`: dashboard reads. A generated gold star is published
  * once as five durable tables; each op loads them, applies a seeded
  * slicer to `AqsQueries.star` and runs one seeded measure. A run times
  * whole cycles of the mix, so every measure weighs the same in every run.
  * Results are checked against the same measure and slicer over the same
  * star read straight from its parquet files, after the timed ops. */
final class GoldServing(env: Env) extends Workload {
  import env._
  import GoldServing.measures
  val name = "gold_serving"
  val oracleQueries = Nil
  private var cat = ""
  private var factRows = 0L
  private var inMemory: Gold = null

  /** The seeded mix: every measure once, in seeded order, each with a
    * seeded slicer (one of year / state / parameter, seeded value). */
  val mix: Seq[(String, String, String)] = {
    val rnd = new scala.util.Random(seed)
    val years = (1995 to 2001).map(_.toString)
    val states = (1 to 50).map(n => f"$n%02d")
    val params = Seq("88101", "44201", "42602", "81102", "42401")
    rnd.shuffle(measures.map(_._1)).map { m =>
      rnd.nextInt(3) match {
        case 0 => (m, "year", years(rnd.nextInt(years.size)))
        case 1 => (m, "state_code", states(rnd.nextInt(states.size)))
        case _ => (m, "parameter_code", params(rnd.nextInt(params.size)))
      }
    }
  }
  private var expected: Seq[String] = Nil

  private def run(g: Gold, k: Int, tr: Option[Tracer]): (String, Long) = {
    val (m, dim, v) = mix(k)
    val sliced = AqsQueries.star(g).filter(col(dim) === (if (dim == "year") lit(v.toInt) else lit(v)))
    span(tr, s"analytics.$m")(digest(measures.toMap.apply(m)(sliced)))
  }

  def setup(): Unit = {
    val t = goldTables.map(n => spark.read.parquet(s"$inputs/$n.parquet"))
    inMemory = Gold(t(0), t(1), t(2), t(3), t(4))
    cat = newCatalog("gs")
    t.zip(goldTables).foreach { case (df, n) => df.writeTo(s"$cat.ns.$n").create() }
    factRows = inMemory.fact.count()
  }

  /** Two whole cycles of the mix, as timed ops run it: after one, the
    * first timed cycle still ran about a quarter slower than the third. */
  def warmup(): Seq[Check] = (0 until 2 * mix.size).flatMap(k => op(k, None).checks)

  /** Whole cycles of the mix, one per five seconds asked (ops take about
    * a second each), at least one. */
  def plannedOps(seconds: Double): Int = mix.size * math.max(1, math.ceil(seconds / 5).toInt)

  def op(i: Int, tr: Option[Tracer]): OpOut = {
    val k = i % mix.size
    val g = span(tr, "sources.load_table")(loadGold(cat))
    val (d, n) = run(g, k, tr)
    val (m, dim, v) = mix(k)
    OpOut(factRows, n, Seq(Check("equal", Map("what" -> s"$m[$dim=$v]", "mix" -> k, "got" -> d))),
      params = Map("measure" -> m, "slicer" -> s"$dim=$v"))
  }

  def freshRead(i: Int, tr: Option[Tracer]): Option[Seq[Check]] = None

  /** The expected digests, from the mix over the star read straight from
    * parquet, and the published fact's row count. */
  override def finish(): Seq[Check] = {
    expected = mix.indices.map(k => run(inMemory, k, None)._1)
    val n = spark.table(s"$cat.ns.fact").agg(count(lit(1)), sum(col("aqi"))).head().getLong(0)
    Seq(Check("equal", Map("what" -> "fact rows", "expect" -> factRows, "got" -> n)))
  }

  override def resolve(c: Check): Check = c.fields.get("mix") match {
    case Some(k: Int) => Check(c.kind, c.fields - "mix" + ("expect" -> expected(k)))
    case _ => c
  }

  def liveCatalog: Option[String] = Some(cat)
}

object GoldServing {
  /** The `AqsQueries` measures of the dashboard mix, by name: a ranking,
    * month-over-month and year-over-year windows, a share of the total
    * and a category split. */
  val measures: Seq[(String, DataFrame => DataFrame)] = Seq(
    "stateRank" -> (AqsQueries.stateRank _),
    "avgAqiByMonthWithMoM" -> ((d: DataFrame) => AqsQueries.avgAqiByMonthWithMoM(d)),
    "pctOfUsExposure" -> (AqsQueries.pctOfUsExposure _),
    "yoyAqiChange" -> (AqsQueries.yoyAqiChange _),
    "aqiCategoryShareByState" -> (AqsQueries.aqiCategoryShareByState _))
}

package graft.engine

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{SparkSpec, Tables}
import graft.pipeline.OperatorCache
import graft.schema.{SemanticSchema, SourceDef}
import graft.sources.Jdbc

class EngineSpec extends SparkSpec {

  private def freshEngine(tag: String): Engine = {
    val root = s"/root/repo/target/graft-tmp/engine-$tag"
    new Engine(spark, root)
  }

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  /** The leaf scans `df`'s physical plan reads: "memory" or "file". */
  private def scans(df: DataFrame): Seq[String] =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case _: InMemoryTableScanExec => "memory"
      case _: FileSourceScanExec    => "file"
    }

  /** `body` on an empty cache manager, which it leaves empty. */
  private def uncached[A](body: => A): A = {
    OperatorCache.releaseAll(spark)
    spark.sharedState.cacheManager.clearCache()
    try body finally OperatorCache.releaseAll(spark)
  }

  private val regionSql = "SELECT r_name FROM regions WHERE r_regionkey < 3 ORDER BY r_name"
  private def names(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq
  private lazy val regionNames =
    names(Tables.load(spark, sf, "region").where("r_regionkey < 3").select("r_name").orderBy("r_name"))

  test("create → schema.yaml + data.parquet on disk → load round-trip") {
    val e = freshEngine("roundtrip")
    val df = Tables.load(spark, sf, "region")
    e.create("org/regions", df)
    assert(Files.exists(Paths.get(e.datasetsRoot, "org", "regions", "schema.yaml")))
    assert(Files.exists(Paths.get(e.datasetsRoot, "org", "regions", "data.parquet")))
    val loaded = e.load("org/regions")
    assert(loaded.count() == 5)
    assert(e.knownTables.contains("regions"))
    // lazy head/count surface (virtual_dataframe.py:15-51)
    assert(e.head("regions", 2).count() == 2)
    assert(e.rowCount("regions") == 5)
  }

  test("dataset path validation (org/dataset kebab-case)") {
    val e = freshEngine("paths")
    val df = Tables.load(spark, sf, "region")
    intercept[IllegalArgumentException](e.create("NoSlash", df))
    intercept[IllegalArgumentException](e.create("Bad Case/x", df))
  }

  test("executeSqlQuery: known tables pass, unknown or non-SELECT rejected") {
    val e = freshEngine("sql")
    e.register("region", Tables.load(spark, sf, "region"))
    assert(e.executeSqlQuery("SELECT count(*) AS n FROM region").head().getLong(0) == 5)
    intercept[SqlGate.MaliciousQueryError] {
      e.executeSqlQuery("SELECT * FROM other_table")
    }
    intercept[SqlGate.MaliciousQueryError] {
      e.executeSqlQuery("DROP TABLE region")
    }
  }

  test("view dataset loads dependencies from the same org (view_loader.py:43-71)") {
    val e = freshEngine("views")
    e.create("org/custs", Tables.load(spark, sf, "customer"))
    e.create("org/nats", Tables.load(spark, sf, "nation"))
    val viewYaml =
      """name: cust-nation
        |view: true
        |columns:
        |- name: custs.c_custkey
        |- name: nats.n_name
        |relations:
        |- from: custs.c_nationkey
        |  to: nats.n_nationkey
        |""".stripMargin
    val dir = Paths.get(e.datasetsRoot, "org", "cust-nation")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("schema.yaml"), viewYaml)
    val v = e.load("org/cust-nation")
    assert(v.columns.toSeq == Seq("custs_c_custkey", "nats_n_name"))
    assert(v.count() == Tables.load(spark, sf, "customer").count())
  }

  test("missing dataset and circular view dependencies fail with clear errors") {
    val e = freshEngine("cycles")
    val missing = intercept[IllegalArgumentException](e.load("org/does-not-exist"))
    assert(missing.getMessage.contains("dataset not found"))

    // two views that reference each other: a → b → a must be reported as
    // a cycle, not overflow the stack
    def viewYaml(name: String, dep: String) =
      s"""name: $name
         |view: true
         |columns:
         |- name: $dep.x
         |""".stripMargin
    for ((n, d) <- Seq(("view_a", "view_b"), ("view_b", "view_a"))) {
      val dir = Paths.get(e.datasetsRoot, "org", n)
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("schema.yaml"), viewYaml(n, d))
    }
    val cyc = intercept[IllegalArgumentException](e.load("org/view_a"))
    assert(cyc.getMessage.contains("circular view dependency"), cyc.getMessage)
  }

  test("paginator: search + sort + offset/limit") {
    val df = Tables.load(spark, sf, "customer")
    val page = Paginator.paginate(df, Paginator.Params(
      page = 1, pageSize = 10, search = Some("BUILDING"),
      sortBy = Some("c_custkey")))
    val rows = page.collect()
    assert(rows.length <= 10)
    // numeric search term matches numeric columns by equality
    val byKey = Paginator.paginate(df, Paginator.Params(
      page = 1, pageSize = 5, search = Some("7")))
    assert(byKey.count() >= 1)
  }

  test("destination sink writes csv and parquet") {
    val e = freshEngine("sink")
    val df = Tables.load(spark, sf, "region")
    val out = s"/root/repo/target/graft-tmp/sink-test"
    e.writeDestination(df, graft.schema.DestinationDef("local", "csv", s"$out/csv"))
    e.writeDestination(df, graft.schema.DestinationDef("local", "parquet", s"$out/parquet"))
    assert(spark.read.option("header", "true").csv(s"$out/csv").count() == 5)
    assert(spark.read.parquet(s"$out/parquet").count() == 5)
  }

  test("a held dataset: the first query holds it, the second plans an InMemoryTableScan") {
    uncached {
      val e = freshEngine("held")
      e.create("org/regions", Tables.load(spark, sf, "region"))
      val first = e.executeSqlQuery(regionSql)
      assert(!cacheEmpty && e.table("regions").storageLevel != StorageLevel.NONE)
      assert(names(first) == regionNames)
      val second = e.executeSqlQuery(regionSql)
      assert(scans(second) == Seq("memory"))
      assert(names(second) == regionNames)
    }
  }

  test("load, create and createFromSchema hold nothing; registered frames are never held") {
    uncached {
      val e = freshEngine("lazy")
      e.create("org/regions", Tables.load(spark, sf, "region"))
      e.load("org/regions")
      e.createFromSchema("org/nations", SemanticSchema("nations",
        source = Some(SourceDef("parquet", path = Some(s"$sf/nation.parquet")))))
      assert(cacheEmpty)
      e.register("suppliers", Tables.load(spark, sf, "supplier"))
      val q = e.executeSqlQuery("SELECT count(*) FROM suppliers")
      assert(q.head().getLong(0) == 10)
      assert(scans(e.executeSqlQuery("SELECT count(*) FROM suppliers")) == Seq("file"))
      assert(cacheEmpty)
    }
  }

  test("a dataset over the bound stays a plain scan; one at the bound is held") {
    uncached {
      val e = freshEngine("bound")
      e.create("org/regions", Tables.load(spark, sf, "region"))
      val bytes = Files.list(Paths.get(e.datasetsRoot, "org", "regions", "data.parquet"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filterNot(p => p.getFileName.toString.startsWith("_") || p.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> (bytes - 1).toString) {
        val q = e.executeSqlQuery(regionSql)
        assert(scans(q) == Seq("file"))
        assert(names(q) == regionNames)
        assert(cacheEmpty)
      }
      withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> bytes.toString) {
        val q = e.executeSqlQuery(regionSql)
        assert(scans(q) == Seq("memory"))
        assert(names(q) == regionNames)
      }
    }
  }

  test("a view over held datasets is held as its joined result") {
    uncached {
      val e = freshEngine("held-view")
      e.create("org/custs", Tables.load(spark, sf, "customer"))
      e.create("org/nats", Tables.load(spark, sf, "nation"))
      e.createFromSchema("org/cust-nation", SemanticSchema.fromYaml(
        """name: cust-nation
          |view: true
          |columns:
          |- name: custs.c_custkey
          |- name: nats.n_name
          |relations:
          |- from: custs.c_nationkey
          |  to: nats.n_nationkey
          |""".stripMargin))
      val sql = "SELECT nats_n_name, count(*) AS n FROM cust_nation GROUP BY nats_n_name"
      val first = e.executeSqlQuery(sql).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(first.values.sum == Tables.load(spark, sf, "customer").count())
      assert(OperatorCache.trackedCount(spark) == 1)
      val second = e.executeSqlQuery(sql)
      assert(scans(second) == Seq("memory"))
      assert(second.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == first)
    }
  }

  test("create over changed parquet, then load, serves the new rows and releases the old frame") {
    uncached {
      val e = freshEngine("recreate")
      val sql = "SELECT x FROM nums ORDER BY x"
      def xs(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq
      e.create("org/nums", spark.range(0, 3, 1, 1).toDF("x"))
      assert(xs(e.executeSqlQuery(sql)) == Seq(0L, 1L, 2L))
      val old = e.table("nums")
      assert(old.storageLevel != StorageLevel.NONE)
      e.create("org/nums", spark.range(40, 42, 1, 1).toDF("x"))
      e.load("org/nums")
      assert(cacheEmpty && OperatorCache.trackedCount(spark) == 0)
      assert(!(e.table("nums") eq old))
      assert(xs(e.executeSqlQuery(sql)) == Seq(40L, 41L))
      val again = e.executeSqlQuery(sql)
      assert(scans(again) == Seq("memory"))
      assert(xs(again) == Seq(40L, 41L))
      assert(OperatorCache.trackedCount(spark) == 1)
    }
  }

  test("after OperatorCache.releaseAll the next query holds the dataset again") {
    uncached {
      val e = freshEngine("rehold")
      e.create("org/regions", Tables.load(spark, sf, "region"))
      assert(names(e.executeSqlQuery(regionSql)) == regionNames)
      OperatorCache.releaseAll(spark)
      assert(cacheEmpty)
      val q = e.executeSqlQuery(regionSql)
      assert(!cacheEmpty)
      assert(scans(q) == Seq("memory"))
      assert(names(q) == regionNames)
    }
  }

  test("a JDBC dataset is never held") {
    uncached {
      val url = Jdbc.derbyUrl("graft-enginespec-db")
      Jdbc.seed(Tables.load(spark, sf, "region"), url, "region_held")
      val e = freshEngine("jdbc")
      e.createFromSchema("org/regions", SemanticSchema("regions",
        source = Some(SourceDef("postgres", table = Some("region_held"),
          connection = Map("url" -> url, "driver" -> Jdbc.DerbyDriver)))))
      for (_ <- 1 to 2) {
        assert(names(e.executeSqlQuery(regionSql)) == regionNames)
        assert(cacheEmpty)
      }
    }
  }

  test("concurrent load, schemaOf and executeSqlQuery from 4 threads") {
    uncached {
      val e = freshEngine("concurrent")
      e.create("org/regions", Tables.load(spark, sf, "region"))
      e.create("org/nats", Tables.load(spark, sf, "nation"))
      val counts = Await.result(Future.sequence((0 until 4).map(t => Future {
        (0 until 6).map { i =>
          e.load(if ((t + i) % 2 == 0) "org/regions" else "org/nats")
          assert(e.schemaOf("regions").map(_.name).contains("regions"))
          assert(e.schemaOf("NATS").map(_.name).contains("nats"))
          val table = if (i % 2 == 0) "regions" else "nats"
          table -> e.executeSqlQuery(s"SELECT count(*) FROM $table").head().getLong(0)
        }
      })), 5.minutes).flatten
      assert(counts.toMap == Map("regions" -> 5L, "nats" -> 25L))
      assert(counts.size == 24)
      // each name's current frame is the only one held
      e.executeSqlQuery("SELECT count(*) FROM regions JOIN nats ON r_regionkey = n_regionkey").collect()
      assert(OperatorCache.trackedCount(spark) == 2)
      assert(Seq("regions", "nats").forall(t => e.table(t).storageLevel != StorageLevel.NONE))
    }
  }
}

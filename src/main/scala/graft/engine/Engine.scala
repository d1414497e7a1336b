package graft.engine

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel
import graft.agent.Serializer
import graft.pipeline.OperatorCache
import graft.plan.DatasetPlanBuilder
import graft.schema._
import graft.types.TypeMapping

/** The engine facade: dataset store (create/load), temp-view registry, and
  * the `executeSqlQuery` entry point all generated code must call
  * (reference: pandasai/agent/base.py:137-169, pandasai/__init__.py:46-291,
  * pandasai/data_loader/loader.py:38-69).
  *
  * Datasets live under `datasetsRoot/org/name/{schema.yaml,data.parquet}`
  * exactly like the reference's `datasets/` layout. Loading is LAZY: a
  * loaded dataset is a composed logical plan, materialized only by an
  * action — the Spark-idiomatic improvement over the reference's eager
  * `LocalDatasetLoader.load` (local_loader.py:35-41).
  *
  * Each registration also carries the table's prompt block, serialized
  * by the first prompt that needs it ([[tableBlock]]) and shared by
  * every Agent over this engine; binding a different frame to the name
  * drops it.
  *
  * A small dataset is HELD in memory, as the reference holds every
  * local-file dataset in an eager frame: a frame `load` built over
  * local files only (a parquet/csv source, or a view whose dependencies
  * were all built so) whose files total at most
  * `spark.sql.autoBroadcastJoinThreshold` bytes is persisted through
  * [[OperatorCache.persist]] by the first [[executeSqlQuery]] that
  * references it, so later queries scan memory instead of files; a
  * view is held as its joined result. Nothing is persisted by
  * `register`, `load` or `create`. [[OperatorCache.releaseAll]] releases
  * held frames with every other cached frame, and the next query that
  * references the dataset holds it again; binding another frame to the
  * name releases the old one. JDBC sources, frames passed to
  * [[register]] and datasets over the bound stay lazy.
  */
final class Engine(val spark: SparkSession, val datasetsRoot: String) {

  // registry and schemas are read and written under this engine's lock
  private val registry = mutable.LinkedHashMap.empty[String, Engine.Registration]
  private val schemas = mutable.LinkedHashMap.empty[String, SemanticSchema]

  def knownTables: Set[String] = synchronized(registry.keySet.toSet)

  /** Register an in-memory frame as a queryable table
    * (reference: data_loader/duck_db_connection_manager.py:18-27).
    * Re-registering the SAME frame object keeps its serialized prompt
    * block; any other frame starts a new registration. A registered
    * frame is never held in memory. */
  def register(name: String, df: DataFrame): Unit = bind(name, df, loaded = false)

  /** Bind `df` to `name` as a temp view. A different frame starts a new
    * registration and releases the old one's held frame; `loaded` marks
    * a frame `load` built over local files only. */
  private def bind(name: String, df: DataFrame, loaded: Boolean): Engine.Registration =
    synchronized {
      val clean = SqlGate.sanitizeTableNameLowercase(name)
      val reg = registry.get(clean) match {
        case Some(r) if r.df eq df => r
        case old =>
          old.filter(_.held).foreach(r => OperatorCache.release(r.df))
          val r = new Engine.Registration(clean, df, loaded)
          registry(clean) = r
          r
      }
      df.createOrReplaceTempView(clean)
      reg
    }

  private def registration(name: String): Engine.Registration = synchronized {
    registry.getOrElse(SqlGate.sanitizeTableNameLowercase(name),
      throw new IllegalArgumentException(s"unknown table: $name"))
  }

  def table(name: String): DataFrame = registration(name).df

  /** The table's prompt `<table>` block — [[Serializer.serialize]] with
    * its defaults, byte for byte — computed once per registration: the
    * head collect runs on the first call only. */
  def tableBlock(name: String): String = registration(name).block

  /** `pai.create` for a materialized frame: write data.parquet +
    * schema.yaml, then reload through the loader
    * (reference: pandasai/__init__.py:46-208). */
  def create(path: String, df: DataFrame, description: Option[String] = None): DataFrame = {
    val (org, name) = splitPath(path)
    val dir = Paths.get(datasetsRoot, org, name)
    Files.createDirectories(dir)
    df.write.mode("overwrite").parquet(dir.resolve("data.parquet").toString)
    val schema = SemanticSchema(
      name = name,
      description = description,
      source = Some(SourceDef("parquet", path = Some("data.parquet"))),
      columns = df.schema.fields.map(f =>
        ColumnDef(f.name, ctype = Some(TypeMapping.fromSpark(f.dataType)))),
    ).validate()
    Files.writeString(dir.resolve("schema.yaml"), SemanticSchema.toYaml(schema))
    load(path)
  }

  /** `pai.create` for a declared source or view schema. */
  def createFromSchema(path: String, schema: SemanticSchema): DataFrame = {
    val (org, name) = splitPath(path)
    val dir = Paths.get(datasetsRoot, org, name)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("schema.yaml"), SemanticSchema.toYaml(schema.validate()))
    load(path)
  }

  /** `pai.load("org/dataset")`: parse schema.yaml → compiled lazy plan →
    * registered as a temp view for L2 SQL
    * (reference: pandasai/__init__.py:259-291). */
  def load(path: String): DataFrame = load(path, Vector.empty).df

  /** [[load]] of a dataset that `resolving`'s view dependencies need. */
  private def load(path: String, resolving: Vector[String]): Engine.Registration = {
    val (org, name) = splitPath(path)
    val dir = Paths.get(datasetsRoot, org, name)
    val schemaFile = dir.resolve("schema.yaml")
    if (!Files.exists(schemaFile))
      throw new IllegalArgumentException(
        s"dataset not found: $path (no ${schemaFile.toString}) — create it " +
          "with Engine.create or check the org/dataset path")
    val schema = SemanticSchema.fromYaml(Files.readString(schemaFile))
    val deps = mutable.ArrayBuffer.empty[Engine.Registration]
    val df = DatasetPlanBuilder.build(spark, schema, dir.toString, { dep =>
      val r = dependency(org, dep, resolving)
      deps += r
      r.df
    })
    val reg = synchronized {
      schemas(SqlGate.sanitizeTableNameLowercase(schema.name)) = schema
      bind(schema.name, df, loaded = deps.forall(_.loaded))
    }
    schema.destination.foreach(dest => writeDestination(df, dest))
    reg
  }

  /** Views resolve sibling datasets within the same org, falling back to
    * already-registered tables
    * (reference: data_loader/view_loader.py:43-71). `resolving` is the
    * chain of dependencies being loaded, so a chain that loops
    * (a → b → a) fails with the cycle spelled out, not a stack overflow. */
  private def dependency(org: String, dep: String,
      resolving: Vector[String]): Engine.Registration = {
    val clean = SqlGate.sanitizeTableNameLowercase(dep)
    synchronized(registry.get(clean)).getOrElse {
      if (!Files.exists(Paths.get(datasetsRoot, org, dep, "schema.yaml")))
        throw new IllegalArgumentException(s"unknown view dependency: $dep")
      if (resolving.contains(clean))
        throw new IllegalArgumentException(
          s"circular view dependency: ${(resolving :+ clean).mkString(" -> ")}")
      load(s"$org/$dep", resolving :+ clean)
    }
  }

  /** Declared sink (reference: semantic_layer_schema.py:257-267). */
  def writeDestination(df: DataFrame, dest: DestinationDef): Unit = dest.format match {
    case "parquet" => df.write.mode("overwrite").parquet(dest.path)
    case "csv" => df.write.mode("overwrite").option("header", "true").csv(dest.path)
    case other => throw new IllegalArgumentException(s"unsupported destination format: $other")
  }

  /** THE single query entry point for generated code
    * (reference: pandasai/agent/base.py:137-169): gate the SQL
    * (SELECT-only + known-tables whitelist), hold the small datasets it
    * references, then hand it to Catalyst. Table refs resolve against
    * the registered temp views — no string rewriting needed.
    */
  def executeSqlQuery(sql: String): DataFrame = {
    hold(SqlGate.referencedTables(SqlGate.checkTables(spark, sql, knownTables)))
    spark.sql(sql)
  }

  /** Persist each of `tables` that qualifies and is not held. The
    * persist is lazy: the query that follows fills it. */
  private def hold(tables: Set[String]): Unit = synchronized {
    val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
    for (t <- tables; r <- registry.get(t) if !r.held && r.fileBytes.exists(_ <= bound))
      OperatorCache.persist(r.df)
  }

  /** Lazy head/row-count, the VirtualDataFrame surface
    * (reference: pandasai/dataframe/virtual_dataframe.py:15-51). */
  def head(name: String, n: Int = 5): DataFrame = table(name).limit(n)
  def rowCount(name: String): Long = table(name).count()

  def schemaOf(name: String): Option[SemanticSchema] = synchronized {
    schemas.get(SqlGate.sanitizeTableNameLowercase(name))
  }

  private def splitPath(path: String): (String, String) = path.split("/") match {
    case Array(org, name)
        if org.matches("^[a-z0-9-_]+$") && name.matches("^[a-z0-9-_]+$") =>
      (org, name)
    case _ => throw new IllegalArgumentException(
      s"dataset path must be 'org/dataset' in lowercase kebab-case, got: $path")
  }
}

object Engine {
  /** One registered frame and its prompt block. The lazy val serializes
    * at most once: concurrent first callers wait for the one collect,
    * and a failed serialization is retried by the next call. */
  private final class Registration(name: String, val df: DataFrame, val loaded: Boolean) {
    lazy val block: String = Serializer.serialize(name, df)

    /** Bytes on disk of the files a loaded frame reads, from the file
      * listings its plan already holds; None when it reads anything
      * else (a JDBC table) or was not built by `load`. */
    lazy val fileBytes: Option[Long] =
      if (!loaded) None
      else {
        val leaves = df.queryExecution.analyzed.collectLeaves()
        val sizes = leaves.collect { case l: LogicalRelation => l.relation }
          .collect { case f: HadoopFsRelation => f.location.sizeInBytes }
        if (sizes.length == leaves.length) Some(sizes.sum) else None
      }

    /** Persisted — by `hold`, unless the caller cached the frame too. */
    def held: Boolean = loaded && df.storageLevel != StorageLevel.NONE
  }
}

package graft.finance

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, StringType, StructField, StructType}
import org.yaml.snakeyaml.{DumperOptions, Yaml}

/** Legacy YAML backup serde + one-time YAML→store migration.
  *
  * Reference behavior (/root/reference/migrate.py:14-107):
  *   - dump: records-list YAML, insertion-ordered keys, block style,
  *     width 120 / indent 2, unicode allowed; `book_date`/`valuta_date`
  *     serialized as `YYYY-MM-DD` strings; a leading legacy `index` key
  *     (0..n-1, pandas reset_index); `category_manual` backfilled with ""
  *     when absent.
  *   - load: records → table, re-parse the two date columns, DROP the
  *     legacy `index` column.
  *   - migration: load YAML → backfill `transfer_category`/`category`/
  *     `category_manual` as NULL when absent → upsert into the store →
  *     verify row count (✓ / ⚠ print).
  *
  * The YAML tier is a human-readable BACKUP of an inherently small store
  * (SURVEY.md §2.1 S6: "collect to driver + snakeyaml (data is tiny); not
  * a distributed sink") — collect-to-driver here is the design, not a
  * shortcut; the parquet store remains the 100 TB system of record.
  */
object YamlStore {

  /** Serialize to the reference's records-list YAML layout. */
  def toYaml(df: DataFrame): String = {
    val dated = df
      .withColumn("book_date", date_format(col("book_date"), "yyyy-MM-dd"))
      .withColumn("valuta_date", date_format(col("valuta_date"), "yyyy-MM-dd"))
    val d =
      if (dated.columns.contains("category_manual")) dated
      else dated.withColumn("category_manual", lit(""))
    val cols = d.columns
    val records = new java.util.ArrayList[Object]()
    d.collect().zipWithIndex.foreach { case (r, i) =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("index", Integer.valueOf(i)) // legacy pandas reset_index column
      cols.indices.foreach { j =>
        m.put(cols(j),
          if (r.isNullAt(j)) null else r.get(j).asInstanceOf[Object])
      }
      records.add(m)
    }
    val opts = new DumperOptions()
    opts.setDefaultFlowStyle(DumperOptions.FlowStyle.BLOCK)
    opts.setIndent(2)
    opts.setWidth(120)
    opts.setAllowUnicode(true)
    new Yaml(opts).dump(records)
  }

  private def columnType(name: String): DataType = name match {
    case "book_date" | "valuta_date" => DateType
    case "amount" | "balance"        => DoubleType
    case _                           => StringType
  }

  /** Parse records-list YAML back to a DataFrame: dates re-parsed, legacy
    * `index` dropped, key order of the first record fixes column order.
    */
  def fromYaml(spark: SparkSession, yml: String): DataFrame = {
    val loaded = new Yaml()
      .load[java.util.List[java.util.Map[String, Object]]](yml)
    if (loaded == null || loaded.isEmpty) return spark.emptyDataFrame
    val cols = loaded.get(0).keySet().asScala.toSeq.filterNot(_ == "index")
    val schema = StructType(
      cols.map(c => StructField(c, columnType(c), nullable = true)))
    val rows = loaded.asScala.toSeq.map { m =>
      Row.fromSeq(cols.map { c =>
        (columnType(c), m.get(c)) match {
          case (_, null) => null
          // snakeyaml parses unquoted ISO dates (legacy PyYAML dumps) as
          // java.util.Date at UTC midnight; extract the civil date in UTC —
          // `new java.sql.Date(d.getTime)` would re-render the instant in
          // the JVM's local zone and shift the day backwards anywhere
          // west of UTC, silently changing every fingerprint.
          case (DateType, d: java.util.Date) =>
            java.sql.Date.valueOf(
              d.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
          case (DateType, s) => java.sql.Date.valueOf(s.toString)
          case (DoubleType, n: Number) => n.doubleValue()
          case (DoubleType, s) => s.toString.toDouble
          case (_, other) => other.toString
        }
      })
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  def save(df: DataFrame, path: String): Unit = {
    Files.writeString(Paths.get(path), toYaml(df))
  }

  /** Missing file → empty DataFrame (migrate.py:55-61). */
  def load(spark: SparkSession, path: String): DataFrame =
    if (!Files.exists(Paths.get(path))) spark.emptyDataFrame
    else fromYaml(spark, Files.readString(Paths.get(path)))

  /** One-time YAML → parquet-store migration with row-count verification
    * (migrate.py:73-107). Returns true iff the verification check passes.
    */
  def migrate(spark: SparkSession, yamlPath: String,
      storePath: String): Boolean = {
    val pc = load(spark, yamlPath)
    if (pc.columns.isEmpty || pc.isEmpty) {
      println(s"No data found in $yamlPath")
      return false
    }
    val nYaml = pc.count()
    val filled = Seq("transfer_category", "category", "category_manual")
      .foldLeft(pc) { (d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast("string"))
      }
    val batch = Store.withStoreColumns(filled)
      .withColumn("imported_at", current_timestamp())
    Store.save(Store.upsert(Store.loadOrEmpty(spark, storePath), batch),
      storePath)
    val nStore = Store.read(spark, storePath).count()
    if (nStore == nYaml) {
      println(s"✓ Migration successful! ($nStore rows)")
      true
    } else {
      println(s"⚠ Warning: Row counts don't match! " +
        s"yaml=$nYaml store=$nStore")
      false
    }
  }
}

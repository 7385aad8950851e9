package perfbench

import java.nio.file.{Files, Path}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{Importer, Validation}
import graft.api.Importer.{ImportConfig, ImportResult}
import graft.operators.{Dedup, Merge, Ordinals}
import graft.operators.Merge.{DuplicateMode, ImportMode, Key}
import graft.sink.JdbcSink
import graft.sources.CsvSource

/** The two import workloads: a seeded CSV derived from lineitem goes
  * through `Importer.importToJdbc` into an in-memory Derby table, either
  * as UPSERT × UPDATE_ALL_JOIN into a pre-loaded keyed table or as a
  * keyless INSERT into an empty one.
  *
  * Input shape (all counts fixed by the lineitem size, only WHICH keys
  * and where they arrive depends on the seed):
  *  - `k` rows with distinct keys `(l_orderkey, l_linenumber)`;
  *  - `d` extra rows repeating a base key with changed values;
  *  - `i` extra rows with one unparsable cell (dropped as invalid);
  *  - the upsert target holds `p1` of the base keys with older values
  *    and `p2` keys that are not in the file.
  */
final class Imports(upsert: Boolean, seed: Long, lineitemPath: String, work: Path) {

  val keys = Seq("l_orderkey", "l_linenumber")
  val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))

  val table = "target"
  val csvPath: Path = work.resolve("input.csv")
  private var dbName = ""
  def url: String = s"jdbc:derby:memory:$dbName"

  val cfg: ImportConfig =
    if (upsert) ImportConfig(mode = ImportMode.Upsert, duplicateMode = DuplicateMode.UpdateAllJoin,
      keyColumns = keys)
    else ImportConfig(mode = ImportMode.Insert)

  /** Sizes, filled in by [[setup]]. */
  var k, d, i, p1, p2 = 0L
  def found: Long = k + d + i
  private var expected = Fingerprint(0L, 0L)

  private def ddl(name: String, withKey: Boolean): String = {
    val defs = schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => "BIGINT"
        case IntegerType => "INTEGER"
        case DoubleType => "DOUBLE"
        case DateType => "DATE"
        case _ => "VARCHAR(1)"
      }
      val nn = if (withKey && keys.contains(f.name)) " NOT NULL" else ""
      s"${f.name.toUpperCase} $t$nn"
    }
    val pk = if (withKey) s", PRIMARY KEY (${keys.map(_.toUpperCase).mkString(", ")})" else ""
    s"CREATE TABLE ${name.toUpperCase} (${defs.mkString(", ")}$pk)"
  }

  private def exec(sqls: String*): Unit = JdbcSink.withConnection(url) { c =>
    val st = c.createStatement()
    try sqls.foreach(st.executeUpdate) finally st.close()
  }

  def readTarget(spark: SparkSession): DataFrame = {
    val t = spark.read.format("jdbc").option("url", url)
      .option("dbtable", table.toUpperCase).load()
    t.toDF(t.columns.map(_.toLowerCase).toIndexedSeq: _*)
  }

  /** Seeded 32-bit hash, the same in every JVM. */
  private def hash(parts: Any*): Int = MurmurHash3.orderedHash(seed +: parts)

  /** Pick the rows, write the CSV, create the Derby database and pre-load
    * it, and derive the expected final table. Only the pick runs on
    * Spark; the rest is plain code, independent of the program.
    */
  def setup(spark: SparkSession, records: Records): Unit = {
    var t = System.nanoTime()
    def step(name: String): Unit = {
      val now = System.nanoTime()
      records.write("ev" -> "setup_step", "step" -> name, "s" -> (now - t) / 1e9)
      t = now
    }
    val li = spark.read.parquet(lineitemPath).select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val n = li.count()
    k = n / 20; d = k / 10; i = k / 100; p1 = k * 2 / 5; p2 = k * 2 / 5
    // a seeded pick of k file keys and p2 target-only keys. Lineitem keys
    // are not unique; the hash covers only the key, so all rows of a key
    // sort together and the first row per key stands for it.
    val h1 = xxhash64(lit(seed), col("l_orderkey"), col("l_linenumber"))
    val picked = li.orderBy(h1 +: cols.map(col): _*).limit(((k + p2) * 2).toInt).collect()
      .map(Li.apply).distinctBy(_.key).take((k + p2).toInt).toIndexedSeq
    require(picked.size == k + p2, "too few distinct keys in lineitem")
    step("pick keys")

    // copy 0 is the row itself; copy 1 repeats the key with new values;
    // copy 2 carries one unparsable cell
    val base = picked.take(k.toInt).sortBy(r => (hash(2, r.key), r.key))
    val copies = base.map(_ -> 0) ++
      base.take(d.toInt).map(r => r.copy(quantity = r.quantity + 1,
        extendedprice = r.extendedprice + 0.25, returnflag = "D",
        shipdate = r.shipdate.plusDays(1)) -> 1) ++
      base.slice(d.toInt, (d + i).toInt).map(_ -> 2)
    // arrival order: a seeded shuffle
    val arrivals = copies.sortBy { case (r, c) => (hash(3, r.key, c), r.key, c) }
    val w = Files.newBufferedWriter(csvPath)
    try {
      w.write(cols.mkString(";")); w.newLine()
      arrivals.foreach { case (r, c) =>
        val cells = r.cells.map(_.toString).toArray
        if (c == 2) {
          if (hash(4, r.key) % 2 == 0) cells(4) = cells(4) + "x" // l_quantity
          else cells(10) = "1996-13-45" // l_shipdate
        }
        w.write(cells.mkString(";")); w.newLine()
      }
    } finally w.close()
    step("write csv")

    // the pre-loaded target: p1 file keys with older values, p2 others
    val preload = base.takeRight(p1.toInt).map(r => r.copy(quantity = r.quantity + 100,
      returnflag = "P")) ++ picked.drop(k.toInt)
    dbName = s"perfbench_${ProcessHandle.current().pid()}"
    JdbcSink.withConnection(url + ";create=true")(_ => ())
    exec(ddl(table, withKey = upsert))
    if (upsert) {
      exec(ddl("preload", withKey = true))
      JdbcSink.withConnection(url) { c =>
        c.setAutoCommit(false)
        val ps = c.prepareStatement(s"INSERT INTO PRELOAD VALUES (${cols.map(_ => "?").mkString(", ")})")
        preload.foreach { r => r.bind(ps); ps.addBatch() }
        ps.executeBatch()
        c.commit()
        ps.close()
      }
    }
    step("derby preload")

    // expected final table: the last valid arrival per key wins, target
    // rows whose key is not in the file stay; a keyless insert keeps
    // every valid row
    val valid = arrivals.collect { case (r, c) if c != 2 => r }
    expected = Fingerprint.of(
      if (!upsert) valid
      else {
        val last = valid.map(r => r.key -> r).toMap
        last.values.toSeq ++ preload.filterNot(r => last.contains(r.key))
      })
    step("expected state")
  }

  /** Untimed: put the target back in its pre-import state. */
  def reset(): Unit =
    if (upsert) exec(s"DELETE FROM ${table.toUpperCase}",
      s"INSERT INTO ${table.toUpperCase} SELECT * FROM PRELOAD")
    else exec(s"DELETE FROM ${table.toUpperCase}")

  def importOnce(spark: SparkSession): ImportResult =
    Importer.importToJdbc(CsvSource.read(spark, csvPath.toString), url, table,
      cfg.copy(dataAmount = Files.size(csvPath)))

  /** The `ImportResult` counts known from how the data was generated. */
  def expectedResult: Map[String, Long] =
    if (upsert) Map("found" -> found, "valid" -> (k + d), "invalid" -> i, "duplicates" -> d,
      "inserted" -> (k - p1), "updated" -> p1, "deleted" -> 0L, "finalCount" -> (k + p2))
    else Map("found" -> found, "valid" -> (k + d), "invalid" -> i, "duplicates" -> 0L,
      "inserted" -> (k + d), "updated" -> 0L, "deleted" -> 0L, "finalCount" -> (k + d))

  /** Correctness gate: result counts, then the final table's row count and
    * fingerprint against the expected state. Returns the mismatches.
    */
  def check(r: Option[ImportResult], corrupt: Boolean): Seq[String] = {
    val got = r.toSeq.flatMap(r => Seq("found" -> r.found, "valid" -> r.valid,
      "invalid" -> r.invalid, "duplicates" -> r.duplicates, "inserted" -> r.inserted,
      "updated" -> r.updated, "deleted" -> r.deleted, "finalCount" -> r.finalCount))
    val countErrs = got.collect { case (n, v) if v != expectedResult(n) =>
      s"$n=$v expected ${expectedResult(n)}" }
    val actual = JdbcSink.withConnection(url) { c =>
      val st = c.createStatement()
      val rs = st.executeQuery(s"SELECT ${cols.mkString(", ")} FROM ${table.toUpperCase}")
      val rows = Iterator.continually(rs).takeWhile(_.next()).map(Li.fromJdbc).toVector
      rs.close(); st.close()
      Fingerprint.of(rows)
    }
    val want = if (corrupt) expected.copy(hashSum = expected.hashSum + 1) else expected
    val tableErrs =
      (if (actual.rows != want.rows) Seq(s"table rows=${actual.rows} expected ${want.rows}") else Nil) ++
        (if (actual.hashSum != want.hashSum) Seq("table fingerprint differs from the expected state")
        else Nil)
    countErrs ++ tableErrs
  }

  /** The traced replay: the import pipeline rebuilt from the layers'
    * public functions, each output forced inside its own span. Returns
    * the layer counts and the sink's write statistics.
    */
  def replay(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val (src, _) = tracer.span("sources.read") {
      val s = CsvSource.read(spark, csvPath.toString)
      s.write.format("noop").mode("overwrite").save()
      s
    }
    val rows = src.count()
    val target = readTarget(spark)
    // the mapped value and its raw text side by side, so a value that
    // fails its parse can be told from a real null (as importToJdbc does)
    val withRaw = StructType(target.schema.fields ++
      target.schema.fields.map(f => StructField(s"raw_${f.name}", StringType)))
    val mapping = target.columns.map(c => s"$c=$c; raw_$c=$c").mkString("; ")
    val ((valid, invalid), _) = tracer.span("api.map_validate") {
      val both = Importer.transformSource(src, withRaw, cfg.copy(mapping = Some(mapping)))
      val rules = target.columns.toSeq.map(c => s"invalid value for $c" ->
        (col(s"raw_$c").isNotNull && trim(col(s"raw_$c")) =!= "" && col(c).isNull))
      val v = Validation.validate(both, rules)
      val ok = v.valid.select(target.columns.map(col).toIndexedSeq: _*).cache()
      ok.count()
      (ok, v.errors.count())
    }
    var dupRows = 0L
    val (stats, _) =
      if (!upsert) tracer.span("sink.write")(JdbcSink.appendBatch(valid, url, table, cfg.batchSize))
      else {
        val (staged, _) = tracer.span("operators.dedup") {
          val st = Ordinals.withArrivalOrdinal(valid, "__graft_ord").cache()
          dupRows = st.count() -
            Dedup.dropDuplicatesKeepFirst(st, keys, Seq(col("__graft_ord"))).count()
          st
        }
        val (merged, _) = tracer.span("operators.merge") {
          val order = (keys ++ target.columns.filterNot(keys.contains)).map(col)
          val m = Merge.importMerge(target, staged, keys.map(Key(_)), cfg.mode, cfg.duplicateMode,
              cfg.updateWithNull, sourceOrder = col("__graft_ord"), targetOrder = order)
            .drop("__graft_ord").select(target.columns.map(col).toIndexedSeq: _*).cache()
          m.count()
          m
        }
        val out = tracer.span("sink.write")(JdbcSink.rewriteAtomic(merged, url, table, cfg.batchSize))
        merged.unpersist(); staged.unpersist()
        out
      }
    valid.unpersist()
    // rows sent to Derby: the staged or appended rows, plus the promote
    // INSERT…SELECT that copies the staging table into the target
    val promoted = if (upsert) JdbcSink.withConnection(url)(JdbcSink.countRows(_, table)) else 0L
    Map("rows" -> rows.toDouble, "invalid_rows" -> invalid.toDouble, "dup_rows" -> dupRows.toDouble,
      "rows_written" -> (stats.inserted + promoted).toDouble,
      "fallback_blocks" -> stats.fallbackBlocks.toDouble)
  }

  def dropDb(): Unit =
    scala.util.Try(java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true"))
}

/** One lineitem row as the import target stores it. */
final case class Li(orderkey: Long, partkey: Long, suppkey: Long, linenumber: Int,
                    quantity: Double, extendedprice: Double, discount: Double, tax: Double,
                    returnflag: String, linestatus: String, shipdate: java.time.LocalDate) {
  def key: (Long, Int) = (orderkey, linenumber)
  def cells: Seq[Any] = productIterator.toSeq
  def bind(ps: java.sql.PreparedStatement): Unit = {
    ps.setLong(1, orderkey); ps.setLong(2, partkey); ps.setLong(3, suppkey)
    ps.setInt(4, linenumber); ps.setDouble(5, quantity); ps.setDouble(6, extendedprice)
    ps.setDouble(7, discount); ps.setDouble(8, tax); ps.setString(9, returnflag)
    ps.setString(10, linestatus); ps.setDate(11, java.sql.Date.valueOf(shipdate))
  }
}

object Li {
  def apply(r: Row): Li = Li(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
    r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getString(8),
    r.getString(9), r.getDate(10).toLocalDate)
  def fromJdbc(rs: java.sql.ResultSet): Li = Li(rs.getLong(1), rs.getLong(2), rs.getLong(3),
    rs.getInt(4), rs.getDouble(5), rs.getDouble(6), rs.getDouble(7), rs.getDouble(8),
    rs.getString(9), rs.getString(10), rs.getDate(11).toLocalDate)
}

/** Order-independent fingerprint of a table state: row count and the
  * sum of a per-row hash.
  */
final case class Fingerprint(rows: Long, hashSum: Long)

object Fingerprint {
  def of(rows: Seq[Li]): Fingerprint =
    Fingerprint(rows.size.toLong, rows.map(r => MurmurHash3.productHash(r).toLong).sum)
}

package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Canonical cell rendering for the colhash artifact. Doubles/floats
    * hash their raw IEEE bits (the driver compare is bitwise); timestamps
    * render as epoch, not toString (which is JVM-zone-dependent). */
  private def cell(v: Any): String = v match {
    case null => "\u0000null"
    case d: java.lang.Double =>
      java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case f: java.lang.Float =>
      java.lang.Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k2, v2) => cell(k2) + "->" + cell(v2) }
        .sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => cell(r.get(i))).mkString("(", ",", ")")
    case t: java.sql.Timestamp => "ts:" + t.getTime + "." + t.getNanos
    case d: java.sql.Date => "dt:" + d.getTime
    case other => other.toString
  }

  private val Mask128 = (BigInt(1) << 128) - 1

  // -------------------------------------------------------------------
  // Self-diagnosing parity artifact (r17; format v2 in r18): next to each
  // query's parquet, `_colhash.json` records the row count, a PER-COLUMN
  // hash, and the first rows (canonically sorted). A driver hash-red then
  // localizes to a COLUMN by diffing two such artifacts
  // (tools/colhash_diff.py) instead of costing a forensic session.
  //
  // v2 (r18, ADVICE): each column's hash is the ORDER-FREE 128-bit
  // wrapping sum of md5(cellString) over all rows, computed DISTRIBUTED
  // (per-partition accumulate + fold) — the driver holds O(columns)
  // state, never the result set (v1 collect()ed everything, which OOMs at
  // larger SFs). A `__row__` pseudo-column sums md5 over the full row
  // tuple, so a re-pairing of identical per-column multisets still flips
  // a hash. v2 artifacts are NOT comparable with v1 (r17) trees.
  private def writeColumnHashes(spark: SparkSession, dir: String): Unit =
    try {
      val df = spark.read.parquet(dir)
      val cols = df.columns.sorted
      val nCols = cols.length
      val reordered = df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      val zero = (Vector.fill(nCols + 1)(BigInt(0)), 0L)
      val (sums, n) = reordered.rdd
        .mapPartitions { it =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val acc = Array.fill(nCols + 1)(BigInt(0))
          var rows = 0L
          it.foreach { r =>
            val cells = Array.tabulate(nCols)(i => cell(r.get(i)))
            var i = 0
            while (i < nCols) {
              md.reset(); md.update(cells(i).getBytes("UTF-8"))
              acc(i) = (acc(i) + BigInt(1, md.digest())) & Mask128
              i += 1
            }
            md.reset()
            md.update(cells.mkString("\u0001").getBytes("UTF-8"))
            acc(nCols) = (acc(nCols) + BigInt(1, md.digest())) & Mask128
            rows += 1L
          }
          Iterator.single((acc.toVector, rows))
        }
        .fold(zero) { case ((a, na), (b, nb)) =>
          (a.lazyZip(b).map((x, y) => (x + y) & Mask128), na + nb)
        }
      // deterministic head: the 5 lexicographically-first rows by full
      // canonical key — takeOrdered is distributed, driver sees 5 rows
      val head = reordered.rdd
        .map(r => Array.tabulate(nCols)(i => cell(r.get(i))))
        .map(k => (k.mkString("\u0001"), k))
        .takeOrdered(5)(Ordering.by(_._1))
        .map(_._2)
      val colHashes = cols.indices.map(i =>
        s"${q(cols(i))}: ${q(f"${sums(i)}%032x")}") :+
        s"${q("__row__")}: ${q(f"${sums(nCols)}%032x")}"
      val headJson = head.map(k =>
        k.map(q).mkString("[", ",", "]")).mkString("[", ",", "]")
      val json = s"""{"n": $n, "columns": {${colHashes.mkString(",")}}, "head": $headJson}"""
      Files.writeString(Paths.get(s"$dir/_colhash.json"), json)
    } catch { case e: Throwable =>
      // LOUD + durable: a written {"error": ...} artifact is
      // distinguishable from a missing one (colhash_diff reports
      // ARTIFACT ERROR, not MISSING) — a silent skip would read as a
      // clean tree (r18 ADVICE).
      System.err.println(s"[verify] COLHASH FAILED for $dir: $e")
      try Files.writeString(Paths.get(s"$dir/_colhash.json"),
        s"""{"error": ${q(e.toString)}}""")
      catch { case _: Throwable => () }
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.build()
    new java.io.File(outDir).mkdirs()

    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        writeColumnHashes(spark, s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

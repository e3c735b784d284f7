package perfbench

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** full-precision number; a non-finite value is a harness bug, not data */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Output checks shared by the workloads. */
object Check {
  /** md5 hex of (text, status, error) — the same bytes `sparkDigest` hashes */
  def digest(text: String, status: String, error: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = md.digest(s"$text\u0001$status\u0001$error".getBytes("UTF-8"))
    b.map(x => f"${x & 0xff}%02x").mkString
  }

  def sparkDigest: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    md5(concat(col("text"), lit("\u0001"), col("status"), lit("\u0001"), col("error")))
  }

  /** mismatched + missing + unexpected urls between landed and golden */
  def wrongAgainst(landed: Seq[(String, String)], golden: Map[String, String]): Long = {
    val got = landed.groupBy(_._1)
    val dupes = got.valuesIterator.map(_.size - 1L).sum
    val bad = golden.iterator.count { case (url, want) =>
      got.get(url).forall(_.head._2 != want)
    }
    val extra = got.keysIterator.count(u => !golden.contains(u))
    dupes + bad + extra
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

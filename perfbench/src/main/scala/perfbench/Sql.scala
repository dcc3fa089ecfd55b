package perfbench

import java.util.SplittableRandom

/** One SQL statement and the check of its result set. */
final case class SqlReq(kind: String, sql: String,
                        check: java.sql.ResultSet => Option[String])

/** The dashboard's JDBC client: a stock Hive JDBC connection to the
  * engine's Thrift service. */
object Sql {
  def connect(port: Int): java.sql.Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    java.sql.DriverManager.getConnection(s"jdbc:hive2://localhost:$port/default", "anonymous", "")
  }

  def run(conn: java.sql.Connection, q: SqlReq): Option[String] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(q.sql)
      try q.check(rs) finally rs.close()
    } catch { case e: java.sql.SQLException => Some(s"${q.kind}: ${e.getMessage}") }
    finally st.close()
  }

  private def rows(rs: java.sql.ResultSet): Seq[(Long, Long, Double, Double, Double)] = {
    val b = Seq.newBuilder[(Long, Long, Double, Double, Double)]
    while (rs.next()) b += ((rs.getLong(1), rs.getLong(2), rs.getDouble(3),
      rs.getDouble(4), rs.getDouble(5)))
    b.result()
  }

  /** The aligned stat GROUP BY the pyramid substitution recognises. */
  def statSql(sid: Long, lo: Long, hi: Long, pw: Int): String =
    s"SELECT shiftleft(shiftright(time, $pw), $pw) AS w, count(*) AS c, " +
      s"min(value) AS mn, max(value) AS mx, avg(value) AS av FROM graft_points " +
      s"WHERE sid = $sid AND time >= $lo AND time < $hi GROUP BY 1 ORDER BY 1"

  def checkStat(d: StreamData, lo: Long, hi: Long, pw: Int)(rs: java.sql.ResultSet): Option[String] = {
    val got = rows(rs)
    val want = d.aligned(lo, hi, pw)
    if (got.size != want.size) Some(s"SQL ${got.size} windows != ${want.size}")
    else got.zip(want).collectFirst {
      case (g, w) if g._1 != w.start || g._2 != w.count || g._3 != w.min ||
          g._4 != w.max || !Harness.near(g._5, w.mean) => s"SQL window ${w.start} differs"
    }
  }

  /** Statement `i` of the dashboard's SQL client: the pyramid-eligible
    * aligned GROUP BY, the same with unaligned bounds, the same over a
    * stream off the 0.01 grid (both fall back to the raw plan), and a
    * per-collection count joined to the catalog, in turn. */
  def dashboard(i: Int, rng: SplittableRandom, corpus: IndexedSeq[StreamData],
                sids: IndexedSeq[Long]): SqlReq = {
    val pw = 36
    val pmu = corpus.filter(_.periodNs < Requests.Second)
    def pick(grid: Boolean) = { val c = pmu.filter(_.grid == grid); c(rng.nextInt(c.size)) }
    def bounds(d: StreamData) = (d.tmin >> pw << pw, ((d.tmax >> pw) + 1) << pw)
    i % 4 match {
      case 0 =>
        val d = pick(grid = true); val (lo, hi) = bounds(d)
        SqlReq("sql_pyr", statSql(sids(d.idx), lo, hi, pw), checkStat(d, lo, hi, pw))
      case 1 =>
        val d = pick(grid = true); val (lo0, hi0) = bounds(d)
        val (lo, hi) = (lo0 + 1 + rng.nextInt(1000), hi0 - 1 - rng.nextInt(1000))
        SqlReq("sql_raw", statSql(sids(d.idx), lo, hi, pw), checkStat(d, lo, hi, pw))
      case 2 =>
        val d = pick(grid = false); val (lo, hi) = bounds(d)
        SqlReq("sql_raw", statSql(sids(d.idx), lo, hi, pw), checkStat(d, lo, hi, pw))
      case _ =>
        val want = corpus.groupBy(_.collection).map { case (c, ds) => c -> ds.map(_.n.toLong).sum }
        SqlReq("sql_join",
          "SELECT c.collection, count(*) AS n FROM graft_points p " +
            "JOIN graft_catalog c ON p.sid = c.sid GROUP BY c.collection ORDER BY 1",
          rs => {
            val got = scala.collection.mutable.Map.empty[String, Long]
            while (rs.next()) got(rs.getString(1)) = rs.getLong(2)
            if (got.toMap == want) None else Some("SQL per-collection counts differ")
          })
    }
  }
}

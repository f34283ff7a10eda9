package graft.cdc

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Guarded JDBC upsert sink (the q152 serving-tier path, shared with
  * the crash/restart spec): each micro-batch is changelog-normalized
  * to its per-key latest through ChangelogNormalize (one row per key
  * ever reaches the database) and conditionally upserted under a
  * strictly monotonic (ts, event_id) guard. The guard is what makes the sink
  * safe under the two failure modes a real deployment hits:
  * out-of-order batches (an older row can never overwrite a newer
  * one) and replayed batches after a crash (re-applying any prefix of
  * the history is a no-op — idempotence WITHOUT a batchId ledger,
  * because the guard is a function of the data, not the delivery).
  *
  * Table shape is the serving-table contract:
  * `(user_id BIGINT PRIMARY KEY, event_id BIGINT, ts BIGINT,
  * cents BIGINT)`.
  */
object JdbcUpsert {

  def ensureTable(url: String, table: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $table")
      catch { case _: java.sql.SQLException => () } // first run
      st.execute(s"CREATE TABLE $table (user_id BIGINT PRIMARY KEY, " +
        "event_id BIGINT, ts BIGINT, cents BIGINT)")
    } finally c.close()
  }

  /** Apply one micro-batch of (event_id, ts, user_id, cents) rows. */
  def applyBatch(url: String, table: String, b: DataFrame): Unit = {
    val latest = graft.store.ChangelogNormalize.latestByKey(
      b.select(col("user_id"), col("ts"), col("event_id"), col("cents"),
        struct(col("ts"), col("event_id")).as("__ord")),
      Seq("user_id"), "__ord")
    latest.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val c = DriverManager.getConnection(url)
        try {
          val sel = c.prepareStatement(
            s"SELECT ts, event_id FROM $table WHERE user_id = ?")
          val upd = c.prepareStatement(s"UPDATE $table SET " +
            "event_id = ?, ts = ?, cents = ? WHERE user_id = ?")
          val ins = c.prepareStatement(
            s"INSERT INTO $table VALUES (?, ?, ?, ?)")
          rows.foreach { r =>
            val uid = r.getLong(0); val ts = r.getLong(1)
            val eid = r.getLong(2); val cents = r.getLong(3)
            sel.setLong(1, uid)
            val rs = sel.executeQuery()
            if (!rs.next()) {
              ins.setLong(1, uid); ins.setLong(2, eid)
              ins.setLong(3, ts); ins.setLong(4, cents)
              ins.executeUpdate()
            } else {
              val ots = rs.getLong(1); val oeid = rs.getLong(2)
              if (ots < ts || (ots == ts && oeid < eid)) {
                upd.setLong(1, eid); upd.setLong(2, ts)
                upd.setLong(3, cents); upd.setLong(4, uid)
                upd.executeUpdate()
              }
            }
            rs.close()
          }
        } finally c.close()
      }
    }
  }
}

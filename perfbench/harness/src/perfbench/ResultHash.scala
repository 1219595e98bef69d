package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

/** Order-independent digest of a query result: SHA-256 over the sorted
  * string forms of its rows, prefixed by the row count.
  */
object ResultHash {
  def apply(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(s"${rows.length}\n".getBytes("UTF-8"))
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

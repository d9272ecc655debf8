package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The harness's result file and result fingerprints. */
object Json {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)

  /** sha1 hex of the rows' tab-joined fields, one row per line. */
  def fingerprint(rows: Iterable[Seq[Any]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.foreach { r =>
      md.update(r.map(x => if (x == null) "\\N" else x.toString).mkString("\t")
        .getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

package graft.util

import java.nio.charset.StandardCharsets.UTF_8

/** Per-dataset artifact names (`/tmp/graft_*` dirs and catalog tables):
  * the dir with every non-alphanumeric mapped to `_`, kept for reading,
  * then 8 hex digits of the full dir string's SHA-256. Two dirs that
  * differ only in punctuation or case (`/a/b`, `/a_b`) never share an
  * artifact; the same dir always gets the same slug. */
object Slug {
  def apply(dir: String): String = {
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(UTF_8)).take(4).map(b => f"$b%02x").mkString
    dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + hash
  }
}

package graft.queries

import java.nio.file.Paths
import graft.{Json, Memo}

/** The identity of a durable index artifact, or of a family of them (an
  * append path's base tables): a name, the files it is built from, and the
  * params that select it. The store keys an artifact on exactly these, the
  * way [[Memo.value]] keys an entry: the name, the params rendered as
  * strings, and each input's local path with its current [[Memo.fp]]. No
  * caller types a fingerprint, and an input rewritten in place keys a new
  * artifact. */
private[graft] final case class StoreKey(name: String, inputs: Seq[String], params: Any*) {

  /** `{name, params, inputs: [{path, fp}]}` with the inputs' current
    * fingerprints: the artifact's whole identity, stored beside its data as
    * `_graft_key.json` for the vacuum. */
  def manifest: String = {
    val ins = inputs.map { p =>
      val path = Memo.local(p)
      s"""{"path": ${Json.str(path)}, "fp": ${Json.str(Memo.fp(path))}}"""
    }
    s"""{"name": ${Json.str(name)}, "params": ${
      params.map(p => Json.str(p.toString)).mkString("[", ", ", "]")}, "inputs": ${
      ins.mkString("[", ", ", "]")}}"""
  }

  /** The artifact's directory name: the sanitized name and a digest of its
    * `manifest` (names that sanitize alike stay apart by the digest). */
  def dirName(manifest: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(manifest.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
    s"${name.replaceAll("[^A-Za-z0-9._-]", "_")}_$digest"
  }
}

private[graft] object StoreKey {

  /** Whether the artifact whose manifest is `json` is live: each recorded
    * input lies under one of `liveDirs`, by whole path components (a live
    * `/data/sf0.1` does not cover `/data/sf0.12`), and its current
    * fingerprint is the recorded one. An artifact with no inputs depends on
    * no file and stays. */
  def live(json: String, liveDirs: Seq[String]): Boolean = {
    val dirs = liveDirs.map(d => Paths.get(Memo.local(d)))
    (org.json4s.jackson.JsonMethods.parse(json) \ "inputs").children.forall { in =>
      (in \ "path", in \ "fp") match {
        case (org.json4s.JString(path), org.json4s.JString(fp)) =>
          dirs.exists(Paths.get(path).startsWith) && Memo.fp(path) == fp
        case _ => false
      }
    }
  }
}

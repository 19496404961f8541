package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Presentation / cursor codecs (F3, F4, F6, F8) as pure column expressions
  * and, for rows already in the driver, as Scala functions; plus the base58
  * reference codec (F7) as Scala functions for the API edge.
  */
object Codecs {

  /** F4 — record index `"<pulse>:<order>"`.
    * reference: `etl/storage/storage.go:147-163`, `api/mappers.go:26`.
    * NULL-strict: concat_ws silently SKIPS null arguments, so a null
    * pulse or order would otherwise serve a colon-less one-field string
    * no [[parseIndex]] can ever read back — an unusable cursor is worse
    * than an omitted field, so either-null yields NULL.
    */
  def indexString(pulse: Column, order: Column): Column =
    when(pulse.isNull || order.isNull, lit(null).cast("string"))
      .otherwise(concat_ws(":", pulse.cast("string"), order.cast("string")))

  /** [[indexString]] of one row's values: null when either is null. */
  def index(pulse: Any, order: Any): String =
    if (pulse == null || order == null) null else s"$pulse:$order"

  /** Parse `"P:O"` → (pulse, order); caller validates shape (P7).
    * ParseInt-strict like `storage.CheckIndex` (storage.go:147-163) — no
    * whitespace tolerance, sign accepted.
    */
  def parseIndex(s: String): Option[(Long, Long)] = {
    val parts = s.split(":", -1)
    if (parts.length != 2) None
    else
      try Some((parts(0).toLong, parts(1).toLong))
      catch { case _: NumberFormatException => None }
  }

  /** F3 — jet drop id `"<jet>:<pulse>"`, root jet rendered "*".
    * reference: `etl/models/models.go:115-125`. A NULL jet id renders as
    * the root too: the reference's Go model scans SQL NULL into the empty
    * string, and without the isNull arm the `length === 0` check is NULL,
    * the `when` falls through to the NULL jet, and concat_ws SKIPS it —
    * serving a bare "<pulse>" id that [[parseJetDropId]] can never read
    * back.
    */
  def jetDropIdString(jetId: Column, pulse: Column): Column =
    concat_ws(":",
      when(jetId.isNull || length(jetId) === 0, lit("*")).otherwise(jetId),
      pulse.cast("string"))

  /** [[jetDropIdString]] of one row's values: a null or empty jet is the
    * root "*", and a null pulse leaves the id without one (`concat_ws`
    * skips it).
    */
  def jetDropId(jetId: String, pulse: Any): String = {
    val jet = if (jetId == null || jetId.isEmpty) "*" else jetId
    if (pulse == null) jet else s"$jet:$pulse"
  }

  private val JetDropIdRe = "^(\\*|[0-1]{1,216}):([+-]?\\d+)$".r

  /** Parse `"<jet>:<pulse>"`; "*" → root "". models.go:94-113 —
    * `NewJetDropIDFromString` parses the pulse part with ParseInt, so a
    * signed pulse is shape-valid (validity, where required, is the
    * caller's check).
    */
  def parseJetDropId(s: String): Option[(String, Long)] = s match {
    case JetDropIdRe(jet, pulse) =>
      try Some((if (jet == "*") "" else jet, pulse.toLong))
      catch { case _: NumberFormatException => None }
    case _ => None
  }

  /** F8/P2 — all-zero or empty byte refs are presented as null.
    * reference: `instrumentation/comparator.go:8-14`.
    * Column form for binary columns; avoids a UDF by comparing against an
    * unbase64'd zero literal only when lengths match common ref sizes is
    * overkill — a direct scan of the hex form is simpler and codegen'd.
    */
  def emptyRefToNull(ref: Column): Column =
    when(ref.isNull || length(ref) === 0 ||
      regexp_replace(hex(ref), "0", "") === "", lit(null).cast("binary"))
      .otherwise(ref)

  /** String variant (for string-typed reference columns). */
  def emptyStrToNull(s: Column): Column =
    when(s.isNull || length(trim(s)) === 0, lit(null).cast("string")).otherwise(s)

  // --- F7: base58 codec (bitcoin alphabet, as used by insolar references) ---

  private val Alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
  private val AlphabetIdx: Map[Char, Int] = Alphabet.zipWithIndex.toMap

  def base58Encode(bytes: Array[Byte]): String = {
    if (bytes.isEmpty) return ""
    val zeros = bytes.takeWhile(_ == 0).length
    var num = BigInt(1, bytes)
    val sb = new StringBuilder
    while (num > 0) {
      val (q, r) = num /% 58
      sb.append(Alphabet(r.toInt))
      num = q
    }
    ("1" * zeros) + sb.reverse.toString
  }

  def base58Decode(s: String): Option[Array[Byte]] = {
    if (s.isEmpty) return Some(Array.emptyByteArray)
    val ones = s.takeWhile(_ == '1').length
    var num = BigInt(0)
    for (c <- s) {
      AlphabetIdx.get(c) match {
        case Some(i) => num = num * 58 + i
        case None    => return None
      }
    }
    val body = if (num == 0) Array.emptyByteArray else {
      val raw = num.toByteArray
      if (raw.length > 1 && raw(0) == 0) raw.tail else raw // strip sign byte
    }
    Some(Array.fill[Byte](ones)(0) ++ body)
  }

  /** Insolar-style reference string: `insolar:1<base58>`; classification of
    * object vs record references happens on the decoded 36-byte layout
    * (pulse embedded in bytes 0..3 after the type prefix). Only the codec
    * and a shape check are needed at the search edge (J7).
    */
  def referenceToString(bytes: Array[Byte]): String =
    "insolar:1" + base58Encode(bytes)

  def parseReference(s: String): Option[Array[Byte]] = {
    val body =
      if (s.startsWith("insolar:1")) s.substring("insolar:1".length)
      else if (s.startsWith("1")) s.substring(1)
      else return None
    base58Decode(body)
  }
}

package graft.hotdog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass syslog parser mirroring the reference's parse_line
  * (src/parse.rs:27-66): try RFC 5424 (syslog_rfc5424 crate), fall back to
  * RFC 3164 (syslog_loose crate, accepted only when a timestamp parsed),
  * else parse error (null).
  *
  * Hand-written scanner — no java.util.regex in the hot path; one pass over
  * the line. Ground truth pinned by the reference tests:
  *   src/parse.rs:83-95  `<13>1 … coconut tyler - - [timeQuality …] hi`
  *     → msg=hi hostname=coconut facility=user severity=notice
  *   src/parse.rs:98-111 `<190>May 13 21:45:18 coconut hotdog: hi`
  *     → msg=hi hostname=coconut appname=hotdog facility=local7 severity=info
  *   src/parse.rs:72-80  `blah` → parse error
  */
object SyslogParser {
  import model.{SeverityNames, FacilityNames}

  private val Months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  /** Returns a 5-field InternalRow(msg, severity, facility, hostname,
    * appname) or null on parse failure or null input. */
  def parse(line: UTF8String): InternalRow =
    if (line == null) null else parseStr(line.toString)

  /** Fused decode+parse: codepoints → String → parse, skipping the
    * intermediate UTF8String round-trip (2 fewer copies per row on the
    * hot path; the separate `line` column is only materialized when a
    * consumer actually reads it — column pruning drops it otherwise). */
  def parseTokens(tokens: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    if (tokens == null) return null
    val ints = tokens.toIntArray()
    parseStr(new String(ints, 0, ints.length))
  }

  def parseStr(s: String): InternalRow = {
    val r5 = parse5424(s)
    if (r5 != null) r5 else parse3164(s)
  }

  /** Plain-Scala variant for the differential oracle / unit tests. */
  def parseToOption(s: String): Option[model.Parsed] = {
    val row = parseStr(s)
    if (row == null) None
    else Some(model.Parsed(
      row.getUTF8String(0).toString,
      Option(row.getUTF8String(1)).map(_.toString),
      Option(row.getUTF8String(2)).map(_.toString),
      Option(row.getUTF8String(3)).map(_.toString),
      Option(row.getUTF8String(4)).map(_.toString)))
  }

  private def mkRow(msg: String, sev: String, fac: String, host: String,
      app: String): InternalRow = {
    val arr = new Array[Any](5)
    arr(0) = UTF8String.fromString(msg)
    arr(1) = if (sev == null) null else UTF8String.fromString(sev)
    arr(2) = if (fac == null) null else UTF8String.fromString(fac)
    arr(3) = if (host == null) null else UTF8String.fromString(host)
    arr(4) = if (app == null) null else UTF8String.fromString(app)
    new GenericInternalRow(arr)
  }

  /** `<PRI>VERSION SP TS SP HOST SP APP SP PROCID SP MSGID SP SD [SP MSG]` */
  private def parse5424(s: String): InternalRow = {
    val n = s.length
    if (n < 6 || s.charAt(0) != '<') return null
    var i = 1
    var pri = 0
    var digits = 0
    while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
      pri = pri * 10 + (s.charAt(i) - '0'); i += 1; digits += 1
    }
    if (digits == 0 || digits > 3 || pri > 191 || i >= n || s.charAt(i) != '>') return null
    i += 1
    // version: one or more digits then space
    var vdigits = 0
    while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') { i += 1; vdigits += 1 }
    if (vdigits == 0 || i >= n || s.charAt(i) != ' ') return null
    i += 1
    // timestamp token
    val tsEnd = tokenEnd(s, i)
    if (tsEnd < 0 || !validRfc3339(s, i, tsEnd)) return null
    i = tsEnd + 1
    // hostname, appname, procid, msgid tokens
    val hostEnd = tokenEnd(s, i); if (hostEnd < 0) return null
    val host = nilable(s, i, hostEnd); i = hostEnd + 1
    val appEnd = tokenEnd(s, i); if (appEnd < 0) return null
    val app = nilable(s, i, appEnd); i = appEnd + 1
    val procEnd = tokenEnd(s, i); if (procEnd < 0) return null
    i = procEnd + 1
    val msgidEnd = tokenEnd(s, i); if (msgidEnd < 0) return null
    i = msgidEnd + 1
    // structured data: '-' or one-or-more [..] elements (quote-aware)
    if (i >= n) return null
    if (s.charAt(i) == '-') {
      i += 1
    } else {
      if (s.charAt(i) != '[') return null
      while (i < n && s.charAt(i) == '[') {
        i += 1
        var inQuotes = false
        var closed = false
        while (i < n && !closed) {
          val c = s.charAt(i)
          if (inQuotes) {
            if (c == '\\' && i + 1 < n) i += 1
            else if (c == '"') inQuotes = false
          } else if (c == '"') inQuotes = true
          else if (c == ']') closed = true
          i += 1
        }
        if (!closed) return null
      }
    }
    // optional message after one space
    val msg =
      if (i == n) ""
      else if (s.charAt(i) == ' ') s.substring(i + 1)
      else return null
    mkRow(msg, SeverityNames(pri & 7), FacilityNames(pri >> 3), host, app)
  }

  /** next space-delimited token ending index (exclusive); requires a space
    * after it (all 5424 head fields are followed by more content). */
  private def tokenEnd(s: String, start: Int): Int = {
    if (start >= s.length) return -1
    var i = start
    while (i < s.length && s.charAt(i) != ' ') i += 1
    if (i == start || i >= s.length) -1 else i
  }

  private def nilable(s: String, a: Int, b: Int): String =
    if (b - a == 1 && s.charAt(a) == '-') null else s.substring(a, b)

  /** `-` or `YYYY-MM-DDTHH:MM:SS[.frac](Z|±HH:MM)` */
  private def validRfc3339(s: String, a: Int, b: Int): Boolean = {
    if (b - a == 1 && s.charAt(a) == '-') return true
    val len = b - a
    if (len < 20) return false
    def d(k: Int): Boolean = { val c = s.charAt(a + k); c >= '0' && c <= '9' }
    def ch(k: Int, c: Char): Boolean = s.charAt(a + k) == c
    if (!(d(0) && d(1) && d(2) && d(3) && ch(4, '-') && d(5) && d(6) &&
          ch(7, '-') && d(8) && d(9) && ch(10, 'T') && d(11) && d(12) &&
          ch(13, ':') && d(14) && d(15) && ch(16, ':') && d(17) && d(18)))
      return false
    var i = a + 19
    if (i < b && s.charAt(i) == '.') {
      i += 1
      var fd = 0
      while (i < b && s.charAt(i) >= '0' && s.charAt(i) <= '9') { i += 1; fd += 1 }
      if (fd == 0) return false
    }
    if (i >= b) return false
    val c = s.charAt(i)
    if (c == 'Z') return i + 1 == b
    if (c != '+' && c != '-') return false
    i += 1
    if (b - i != 5) return false
    s.charAt(i).isDigit && s.charAt(i + 1).isDigit && s.charAt(i + 2) == ':' &&
      s.charAt(i + 3).isDigit && s.charAt(i + 4).isDigit
  }

  /** syslog_loose subset: `[<PRI>]MMM [d]d HH:MM:SS HOST [TAG[pid]:] MSG`.
    * Accepted only if the timestamp parses (reference src/parse.rs:46). */
  private def parse3164(s: String): InternalRow = {
    val n = s.length
    var i = 0
    var sev: String = null
    var fac: String = null
    if (i < n && s.charAt(i) == '<') {
      var j = i + 1
      var pri = 0
      var digits = 0
      while (j < n && s.charAt(j) >= '0' && s.charAt(j) <= '9') {
        pri = pri * 10 + (s.charAt(j) - '0'); j += 1; digits += 1
      }
      if (digits > 0 && digits <= 3 && j < n && s.charAt(j) == '>' && pri <= 191) {
        sev = SeverityNames(pri & 7)
        fac = FacilityNames(pri >> 3)
        i = j + 1
      } else return null
    }
    // month name
    if (i + 3 > n) return null
    val mon = s.substring(i, i + 3)
    var m = 0
    var found = false
    while (m < 12 && !found) { if (Months(m) == mon) found = true else m += 1 }
    if (!found || i + 3 >= n || s.charAt(i + 3) != ' ') return null
    i += 4
    // day: 1-2 digits (possibly space-padded)
    if (i < n && s.charAt(i) == ' ') i += 1
    var dd = 0
    while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') { dd += 1; i += 1 }
    if (dd == 0 || dd > 2 || i >= n || s.charAt(i) != ' ') return null
    i += 1
    // HH:MM:SS
    if (i + 8 > n) return null
    def d(k: Int) = { val c = s.charAt(i + k); c >= '0' && c <= '9' }
    if (!(d(0) && d(1) && s.charAt(i + 2) == ':' && d(3) && d(4) &&
          s.charAt(i + 5) == ':' && d(6) && d(7))) return null
    i += 8
    if (i >= n || s.charAt(i) != ' ') return null
    i += 1
    // hostname token
    val hostEnd0 = { var k = i; while (k < n && s.charAt(k) != ' ') k += 1; k }
    if (hostEnd0 == i) return null
    val host = s.substring(i, hostEnd0)
    if (hostEnd0 >= n) return mkRow("", sev, fac, host, null)
    i = hostEnd0 + 1
    // tag: APP[:|[pid]:] then msg; no colon in first token → no tag, msg=rest
    var k = i
    var colon = -1
    var bracket = -1
    while (k < n && s.charAt(k) != ' ' && colon < 0) {
      val c = s.charAt(k)
      if (c == ':') colon = k
      else if (c == '[' && bracket < 0) bracket = k
      k += 1
    }
    if (colon > i) {
      val appEnd = if (bracket > i && bracket < colon) bracket else colon
      val app = s.substring(i, appEnd)
      var msgStart = colon + 1
      if (msgStart < n && s.charAt(msgStart) == ' ') msgStart += 1
      mkRow(if (msgStart <= n) s.substring(msgStart) else "", sev, fac, host, app)
    } else {
      mkRow(s.substring(i), sev, fac, host, null)
    }
  }
}

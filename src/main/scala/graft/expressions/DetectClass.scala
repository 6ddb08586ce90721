package graft.expressions

import org.apache.spark.unsafe.types.UTF8String

/** Content-class bitmask of a string value, fused into ONE compiled
  * byte-scan: bit 0 = integer, bit 1 = numeric (int or float), bit 2 =
  * boolean token, bit 3 = ISO date/datetime shape.
  *
  * Drives [[graft.types.Detect]]'s single-pass inference (reference
  * `detect_type`, bertrand/types/base/meta.py:1697). Replaces four
  * `rlike` regex matchers per column — the generated aggregate ran
  * 4 java.util.regex machines per value and dominated t1's runtime;
  * one branchy ASCII scan classifies all four lanes at once and keeps
  * the whole-stage-codegen module small enough to compile fast.
  *
  * Semantics are byte-for-byte those of the regex formulation it
  * replaced (see DetectClassSpec's differential grid):
  *   int   ^[+-]?\d+$
  *   num   ^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$
  *   bool  lower(v) IN (true,false,t,f,yes,no,y,n,1,0,on,off)
  *   date  ^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$
  * each applied to the space-trimmed value (SQL `trim` = 0x20 only).
  * Non-ASCII bytes fail every lane, exactly as the ASCII-only regexes
  * and token list do. */
object DetectKernel {
  final val INT = 1
  final val NUM = 2
  final val BOOL = 4
  final val DATE = 8

  /** One scan, four verdicts. Works on the UTF-8 bytes directly: every
    * accepted character is single-byte ASCII, so any byte >= 0x80 just
    * fails the lane it appears in. */
  def classify(s: UTF8String): Int = {
    val t = s.trim() // SQL trim: strips 0x20 only
    val n = t.numBytes
    var m = 0
    if (isInt(t, n)) m |= INT
    if (isNum(t, n)) m |= NUM
    if (isBool(t, n)) m |= BOOL
    if (isDate(t, n)) m |= DATE
    m
  }

  @inline private def digit(b: Byte): Boolean = b >= '0' && b <= '9'

  private def isInt(t: UTF8String, n: Int): Boolean = {
    var i = 0
    if (n > 0 && (t.getByte(0) == '+' || t.getByte(0) == '-')) i = 1
    if (i >= n) return false
    while (i < n) {
      if (!digit(t.getByte(i))) return false
      i += 1
    }
    true
  }

  private def isNum(t: UTF8String, n: Int): Boolean = {
    var i = 0
    if (n > 0 && (t.getByte(0) == '+' || t.getByte(0) == '-')) i = 1
    // mantissa: \d+\.?\d* | \.\d+
    var d1 = 0
    while (i < n && digit(t.getByte(i))) { d1 += 1; i += 1 }
    if (i < n && t.getByte(i) == '.') {
      i += 1
      var d2 = 0
      while (i < n && digit(t.getByte(i))) { d2 += 1; i += 1 }
      if (d1 == 0 && d2 == 0) return false // "." or "+."
    } else if (d1 == 0) return false // sign only / empty / leading junk
    if (i == n) return true
    // exponent: [eE][+-]?\d+
    val e = t.getByte(i)
    if (e != 'e' && e != 'E') return false
    i += 1
    if (i < n && (t.getByte(i) == '+' || t.getByte(i) == '-')) i += 1
    if (i >= n) return false
    while (i < n) {
      if (!digit(t.getByte(i))) return false
      i += 1
    }
    true
  }

  // lowercased token set; longest is 5 bytes ("false")
  private def isBool(t: UTF8String, n: Int): Boolean = {
    if (n < 1 || n > 5) return false
    val b = new Array[Byte](n)
    var i = 0
    while (i < n) {
      var c = t.getByte(i)
      if (c >= 'A' && c <= 'Z') c = (c + 32).toByte
      if (c < 0) return false // non-ASCII never matches an ASCII token
      b(i) = c
      i += 1
    }
    val w = new String(b, java.nio.charset.StandardCharsets.US_ASCII)
    w match {
      case "true" | "false" | "t" | "f" | "yes" | "no" | "y" | "n" |
           "1" | "0" | "on" | "off" => true
      case _ => false
    }
  }

  // ^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$  (shape only)
  private def isDate(t: UTF8String, n: Int): Boolean = {
    if (n != 10 && n != 16 && n != 19 && n < 21) return false
    if (!(digit(t.getByte(0)) && digit(t.getByte(1)) && digit(t.getByte(2)) &&
        digit(t.getByte(3)) && t.getByte(4) == '-' &&
        digit(t.getByte(5)) && digit(t.getByte(6)) && t.getByte(7) == '-' &&
        digit(t.getByte(8)) && digit(t.getByte(9)))) return false
    if (n == 10) return true
    if (t.getByte(10) != ' ' && t.getByte(10) != 'T') return false
    if (!(digit(t.getByte(11)) && digit(t.getByte(12)) && t.getByte(13) == ':' &&
        digit(t.getByte(14)) && digit(t.getByte(15)))) return false
    if (n == 16) return true
    if (!(t.getByte(16) == ':' && digit(t.getByte(17)) && digit(t.getByte(18))))
      return false
    if (n == 19) return true
    if (t.getByte(19) != '.') return false // n >= 21 here: ".\d+"
    var i = 20
    while (i < n) {
      if (!digit(t.getByte(i))) return false
      i += 1
    }
    true
  }
}

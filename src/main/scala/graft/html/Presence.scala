package graft.html

/** A grow-only set of hashed presence keys: a tag, an attribute name, an
  * attribute's (name, value) pair or a class token that some node has
  * carried. Equal strings give equal keys and a hash collision only makes
  * a key look present, so the set answers "definitely absent" exactly and
  * "maybe present" otherwise. Open addressing over a power-of-two `Int` table; 0 marks an
  * empty slot, and a key that hashes to 0 is stored as 1 (one more
  * collision, still a superset).
  */
final class Presence {

  import Presence._

  private var slots = new Array[Int](InitialSlots)
  private var size = 0

  private[html] def clear(): Unit = {
    // one giant document must not leave every later reset filling a big table
    if (slots.length > 16 * InitialSlots) slots = new Array[Int](InitialSlots)
    else java.util.Arrays.fill(slots, 0)
    size = 0
  }

  private[html] def add(key: Int): Unit = {
    val k = if (key == 0) 1 else key
    val mask = slots.length - 1
    var i = spread(k) & mask
    while (slots(i) != 0) {
      if (slots(i) == k) return
      i = (i + 1) & mask
    }
    slots(i) = k
    size += 1
    if (size * 2 > slots.length) rehash()
  }

  def contains(key: Int): Boolean = {
    val k = if (key == 0) 1 else key
    val mask = slots.length - 1
    var i = spread(k) & mask
    while (slots(i) != 0) {
      if (slots(i) == k) return true
      i = (i + 1) & mask
    }
    false
  }

  /** Adds one attribute: its folded name, its (name, value) pair, and
    * for a name that `Dom.attr` answers to "class", its class tokens.
    */
  private[html] def addAttr(name: String, value: String): Unit = {
    val h = foldHash(name)
    add(key(AttrKind, h))
    if (value != null) {
      add(key(ValueKind, 31 * h + value.hashCode))
      if (name.equalsIgnoreCase("class")) addClassTokens(value)
    }
  }

  /** Adds every attribute of a flat [name0, val0, name1, val1, …] array. */
  private[html] def addAttrs(a: Array[String]): Unit =
    if (a != null) {
      var i = 0
      while (i < a.length) { addAttr(a(i), a(i + 1)); i += 2 }
    }

  /** Tokens split exactly as `Select.hasClassToken` splits them. */
  private def addClassTokens(cls: String): Unit = {
    val n = cls.length
    var i = 0
    while (i < n) {
      while (i < n && Dom.isWhitespace(cls.charAt(i))) i += 1
      var h = 0
      var j = i
      while (j < n && !Dom.isWhitespace(cls.charAt(j))) { h = 31 * h + cls.charAt(j); j += 1 }
      if (j > i) add(key(ClassKind, h)) // same value as classKey(cls.substring(i, j))
      i = j
    }
  }

  private def rehash(): Unit = {
    val old = slots
    slots = new Array[Int](old.length * 2)
    size = 0
    var i = 0
    while (i < old.length) { if (old(i) != 0) add(old(i)); i += 1 }
  }
}

object Presence {

  private final val InitialSlots = 256

  private final val TagKind = 1
  private final val AttrKind = 2
  private final val ValueKind = 3
  private final val ClassKind = 4

  @inline private def key(kind: Int, hash: Int): Int = hash * 0x01000193 + kind

  /** murmur3 fmix32: spreads the low bits that the table index keeps. */
  @inline private def spread(k: Int): Int = {
    var h = k
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }

  /** Tag names compare with `==`. */
  def tagKey(tag: String): Int = key(TagKind, tag.hashCode)

  /** An attribute `Dom.attr` finds under `name` with exactly this value:
    * `[name=value]`, and `#id` as `valueKey("id", id)`.
    */
  def valueKey(name: String, value: String): Int = key(ValueKind, 31 * foldHash(name) + value.hashCode)

  /** Class tokens compare exactly. */
  def classKey(token: String): Int = key(ClassKind, token.hashCode)

  /** Attribute names match by `equalsIgnoreCase`, and two names it
    * accepts agree code point by code point under
    * `toLowerCase(toUpperCase(_))`. The key hashes that fold, so names
    * `Dom.attr` treats as equal (`CLASS`, `Id`, `claſs` with a long s)
    * share one key. No default-locale `toLowerCase`: a Turkish locale
    * must not fold `I` to a dotless `ı` here while `equalsIgnoreCase`
    * folds it to `i`.
    */
  def attrKey(name: String): Int = key(AttrKind, foldHash(name))

  private def foldHash(name: String): Int = {
    var h = 0
    var i = 0
    val n = name.length
    while (i < n) {
      val c = name.charAt(i)
      if (c < 0x80) {
        h = 31 * h + (if (c >= 'A' && c <= 'Z') c + 32 else c)
        i += 1
      } else {
        val cp = name.codePointAt(i)
        val f = Character.toLowerCase(Character.toUpperCase(cp))
        h =
          if (Character.isBmpCodePoint(f)) 31 * h + f
          else 31 * (31 * h + Character.highSurrogate(f)) + Character.lowSurrogate(f)
        i += Character.charCount(cp)
      }
    }
    h
  }
}

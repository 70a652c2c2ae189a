package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import PdfObjs._

/** Standard security handler (pdf/core/crypt.go + crypt_filters.go):
  * RC4 (V1/V2), AESV2 (128-bit CBC) and AESV3 (256-bit, R5/R6) crypt filters,
  * algorithms 2/2.A/2.B/3-7/11-13, and the object-graph decryption walk
  * (strings + streams; /Parent //Prev //Last keys and Sig /Contents skipped;
  * XRef-type streams never encrypted).
  *
  * The key derivations in the companion object are pure; PdfEncrypt (the
  * writer side) reuses them.
  */
final class PdfCrypt private[pdf] (
    val v: Int,
    val r: Int,
    val length: Int,
    val o: Array[Byte],
    val u: Array[Byte],
    val oe: Array[Byte],
    val ue: Array[Byte],
    val permsBytes: Array[Byte],
    val p: Int,
    val encryptMetadata: Boolean,
    val id0: Array[Byte],
    val cryptFilters: Map[String, PdfCrypt.FilterDef],
    val stringFilter: String,
    val streamFilter: String) {

  import PdfCrypt._

  var encryptionKey: Array[Byte] = _
  var authenticated = false
  private val decryptedObjects =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[PdfObj, java.lang.Boolean]())

  def markDecrypted(obj: PdfObj): Unit = decryptedObjects.add(obj)
  def isDecrypted(obj: PdfObj): Boolean = decryptedObjects.contains(obj)

  // ------------------------------------------------------------------- auth

  /** authenticate (crypt.go:526-571): R>=5 -> 2.A; else user (alg6) then
    * owner (alg7) password.
    */
  def authenticate(password: Array[Byte]): Boolean = {
    authenticated = false
    if (r >= 5) {
      authenticated = alg2a(password)
      return authenticated
    }
    if (alg6(password)) { authenticated = true; return true }
    if (alg7(password)) { authenticated = true; return true }
    false
  }

  /** Algorithm 2: file encryption key. */
  def alg2(pass: Array[Byte]): Array[Byte] =
    alg2Key(pass, o, p, id0, r, length, encryptMetadata)

  /** Algorithm 4 (R2 U value). */
  private def alg4(upass: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val ekey = alg2(upass)
    (rc4(ekey, PasswordPadding), ekey)
  }

  /** Algorithm 5 (R>=3 U value; only the first 16 bytes matter for auth). */
  private[pdf] def alg5(upass: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val ekey = alg2(upass)
    (alg5U(ekey, id0), ekey)
  }

  /** Algorithm 6: user password check (crypt.go:1414-1453). */
  private def alg6(upass: Array[Byte]): Boolean = {
    val (uGen0, key) =
      if (r == 2) alg4(upass)
      else if (r >= 3) alg5(upass)
      else throw new PdfError("invalid R")
    var uGen = uGen0
    var uDoc = u
    if (r >= 3) {
      if (uGen.length > 16) uGen = java.util.Arrays.copyOf(uGen, 16)
      if (uDoc.length > 16) uDoc = java.util.Arrays.copyOf(uDoc, 16)
    }
    if (java.util.Arrays.equals(uGen, uDoc)) { encryptionKey = key; true }
    else false
  }

  /** Algorithm 7: owner password check (crypt.go:1455-1490). */
  private def alg7(opass: Array[Byte]): Boolean = {
    val encKey = alg3Key(opass, r, length)
    var decrypted: Array[Byte] = null
    if (r == 2) decrypted = rc4(encKey, o)
    else if (r >= 3) {
      var s = o.clone()
      var i = 0
      while (i < 20) {
        val newKey = encKey.map(b => (b ^ (19 - i)).toByte)
        s = rc4(newKey, s)
        i += 1
      }
      decrypted = s
    } else throw new PdfError("invalid R")
    try alg6(decrypted)
    catch { case _: PdfError => false }
  }

  // ------------------------------------------------------ R5/R6 algorithms

  /** Algorithm 2.A (crypt.go:1036-1113): owner-then-user check, derive the
    * 256-bit file key from OE/UE; R6 additionally validates Perms (alg 13).
    */
  private def alg2a(pass0: Array[Byte]): Boolean = {
    var pass = pass0
    if (pass.length > 127) pass = java.util.Arrays.copyOf(pass, 127)
    val hOwner = alg12(pass)
    var data: Array[Byte] = null
    var ekey: Array[Byte] = null
    var ukey: Array[Byte] = null
    if (hOwner != null) {
      data = pass ++ o.slice(40, 48) ++ u.slice(0, 48)
      ekey = oe
      ukey = u.slice(0, 48)
    } else {
      var hUser = alg11(pass)
      if (hUser == null) hUser = alg11(Array.emptyByteArray)
      if (hUser == null) return false
      data = pass ++ u.slice(40, 48)
      ekey = ue
      ukey = null
    }
    val ikey = alg2bHash(data, pass, ukey)
    val fkey = aesCbcDecryptNoStrip(java.util.Arrays.copyOf(ikey, 32),
      new Array[Byte](16), java.util.Arrays.copyOf(ekey, 32))
    encryptionKey = fkey
    if (r == 5) true
    else alg13(fkey)
  }

  private def alg2bHash(data: Array[Byte], pwd: Array[Byte], userKey: Array[Byte]): Array[Byte] =
    if (r == 5) CryptoPool.sha256().digest(data)
    else alg2bR6(data, pwd, if (userKey == null) Array.emptyByteArray else userKey)

  /** Algorithm 11: user password validation hash (R>=5). */
  private def alg11(upass: Array[Byte]): Array[Byte] = {
    val str = upass ++ u.slice(32, 40)
    val h = java.util.Arrays.copyOf(alg2bHash(str, upass, null), 32)
    if (java.util.Arrays.equals(h, u.slice(0, 32))) h else null
  }

  /** Algorithm 12: owner password validation hash (R>=5). */
  private def alg12(opass: Array[Byte]): Array[Byte] = {
    val str = opass ++ o.slice(32, 40) ++ u.slice(0, 48)
    val h = java.util.Arrays.copyOf(alg2bHash(str, opass, u.slice(0, 48)), 32)
    if (java.util.Arrays.equals(h, o.slice(0, 32))) h else null
  }

  /** Algorithm 13 (R6): validate Perms against P + EncryptMetadata. */
  private def alg13(fkey: Array[Byte]): Boolean = {
    val perms = java.util.Arrays.copyOf(permsBytes, 16)
    val cipher = CryptoPool.aesEcbNoPad()
    cipher.init(Cipher.DECRYPT_MODE, new SecretKeySpec(java.util.Arrays.copyOf(fkey, 32), "AES"))
    val dec = cipher.doFinal(perms)
    if (!(dec(9) == 'a' && dec(10) == 'd' && dec(11) == 'b'))
      throw new PdfError("decoded permissions are invalid")
    val pv = (dec(0) & 0xff) | ((dec(1) & 0xff) << 8) | ((dec(2) & 0xff) << 16) | ((dec(3) & 0xff) << 24)
    if (pv != p) throw new PdfError("permissions validation failed")
    val encMeta = dec(8) match {
      case 'T' => true
      case 'F' => false
      case _   => throw new PdfError("decoded metadata encryption flag is invalid")
    }
    if (encMeta != encryptMetadata) throw new PdfError("metadata encryption validation failed")
    true
  }

  // --------------------------------------------------------- object decrypt

  /** makeKey (crypt_filters.go): V2/AESV2 mix objNum/genNum (+"sAlT" for
    * AES) into an MD5; AESV3 uses the file key unchanged.
    */
  private def makeObjectKey(filterName: String, objNum: Long, genNum: Long): Array[Byte] = {
    val fd = cryptFilters.getOrElse(filterName, throw new PdfError(s"Unknown crypt filter ($filterName)"))
    fd.cfm match {
      case "AESV3" => encryptionKey
      case "V2" | "AESV2" => objectKey(encryptionKey, objNum, genNum, isAes = fd.cfm == "AESV2")
      case "" => null // identity
      case other => throw new PdfError(s"unsupported crypt filter: $other")
    }
  }

  private def decryptBytes(buf: Array[Byte], filterName: String, okey: Array[Byte]): Array[Byte] = {
    val fd = cryptFilters.getOrElse(filterName, throw new PdfError(s"Unknown crypt filter ($filterName)"))
    fd.cfm match {
      case "V2" => rc4(okey, buf)
      case "AESV2" | "AESV3" => aesCbcDecrypt(okey, buf)
      case "" => buf
      case other => throw new PdfError(s"unsupported crypt filter: $other")
    }
  }

  /** Object-graph decryption walk (crypt.go:687-841). */
  def decrypt(obj: PdfObj, parentObjNum: Long, parentGenNum: Long): Unit =
    decrypt(obj, parentObjNum, parentGenNum, 0)

  private def decrypt(obj: PdfObj, parentObjNum: Long, parentGenNum: Long, depth: Int): Unit = {
    if (isDecrypted(obj)) return
    if (depth > 1000) throw new PdfError("object graph nesting depth exceeded")
    obj match {
      case io: PdfIndirect =>
        markDecrypted(io)
        try decrypt(io.obj, io.num, io.gen, depth + 1)
        catch { case rs: StringResize => io.obj = new PdfStr(rs.bytes) }
      case st: PdfStream =>
        markDecrypted(st)
        st.dict.get("Type") match {
          case PdfName("XRef") => return // xref streams are never encrypted
          case _               =>
        }
        var sf = StandardCryptFilterName
        if (v >= 4) {
          sf = streamFilter
          st.dict.get("Filter") match {
            case arr: PdfArr if arr.length > 0 =>
              arr(0) match {
                case PdfName("Crypt") =>
                  sf = "Identity"
                  st.dict.get("DecodeParms") match {
                    case dp: PdfDict =>
                      dp.get("Name") match {
                        case PdfName(fn) if cryptFilters.contains(fn) => sf = fn
                        case _ =>
                      }
                    case _ =>
                  }
                case _ =>
              }
            case _ =>
          }
          if (sf == "Identity") return
        }
        decrypt(st.dict, st.num, st.gen, depth + 1)
        val okey = makeObjectKey(sf, st.num, st.gen)
        st.raw = decryptBytes(st.raw, sf, okey)
        st.dict.set("Length", PdfInt(st.raw.length))
      case s: PdfStr =>
        var sf = StandardCryptFilterName
        if (v >= 4) {
          if (stringFilter == "Identity") return
          sf = stringFilter
        }
        val okey = makeObjectKey(sf, parentObjNum, parentGenNum)
        val dec = decryptBytes(s.bytes.clone(), sf, okey)
        // PdfStr is immutable bytes-wise: copy in place.
        System.arraycopy(dec, 0, s.bytes, 0, math.min(dec.length, s.bytes.length))
        if (dec.length != s.bytes.length) {
          // lengths differ for AES (IV + padding): replace via reflection-free
          // trick is impossible; handled by caller for strings in dicts/arrays.
          throw new StringResize(dec)
        }
      case arr: PdfArr =>
        var i = 0
        while (i < arr.length) {
          try decrypt(arr(i), parentObjNum, parentGenNum, depth + 1)
          catch { case rs: StringResize => arr(i) = new PdfStr(rs.bytes) }
          i += 1
        }
      case d: PdfDict =>
        val isSig = d.get("Type") == PdfName("Sig")
        for (key <- d.keys) {
          if (!(isSig && key == "Contents") &&
            key != "Parent" && key != "Prev" && key != "Last") {
            try decrypt(d.get(key), parentObjNum, parentGenNum, depth + 1)
            catch { case rs: StringResize => d.set(key, new PdfStr(rs.bytes)) }
          }
        }
      case _ => ()
    }
  }
}

object PdfCrypt {

  final case class FilterDef(cfm: String, length: Int)

  /** Control-flow carrier for AES string decryption changing the length. */
  final class StringResize(val bytes: Array[Byte]) extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  val StandardCryptFilterName = "StdCF"

  val PasswordPadding: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56, 0xFF,
    0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80, 0x2F, 0x0C,
    0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  def padded(pass: Array[Byte]): Array[Byte] = {
    val key = new Array[Byte](32)
    val n = math.min(32, pass.length)
    System.arraycopy(pass, 0, key, 0, n)
    if (n < 32) System.arraycopy(PasswordPadding, 0, key, n, 32 - n)
    key
  }

  /** Algorithm 2: file encryption key (crypt.go:1223-1264). */
  def alg2Key(pass: Array[Byte], o: Array[Byte], p: Int, id0: Array[Byte], r: Int,
              lengthBits: Int, encryptMetadata: Boolean = true): Array[Byte] = {
    val h = CryptoPool.md5()
    h.update(padded(pass))
    h.update(o)
    val pb = new Array[Byte](4)
    var i = 0
    while (i < 4) { pb(i) = ((p >> (8 * i)) & 0xff).toByte; i += 1 }
    h.update(pb)
    h.update(id0)
    if (r >= 4 && !encryptMetadata)
      h.update(Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte))
    var hashb = h.digest()
    if (r >= 3) {
      var k = 0
      while (k < 50) {
        val h2 = CryptoPool.md5()
        h2.update(hashb, 0, lengthBits / 8)
        hashb = h2.digest()
        k += 1
      }
      java.util.Arrays.copyOf(hashb, lengthBits / 8)
    } else java.util.Arrays.copyOf(hashb, 5)
  }

  /** alg3Key (crypt.go:1267-1289): the owner-password RC4 key. */
  def alg3Key(pass: Array[Byte], r: Int, lengthBits: Int): Array[Byte] = {
    var h = CryptoPool.md5()
    h.update(padded(pass))
    if (r >= 3) {
      var i = 0
      while (i < 50) {
        val hashb = h.digest()
        h = CryptoPool.md5()
        h.update(hashb)
        i += 1
      }
    }
    val encKey = h.digest()
    if (r == 2) java.util.Arrays.copyOf(encKey, 5)
    else java.util.Arrays.copyOf(encKey, lengthBits / 8)
  }

  /** Algorithm 5: the R>=3 U value for file key `ekey` (32 bytes, back half
    * zero — only the first 16 are compared).
    */
  def alg5U(ekey: Array[Byte], id0: Array[Byte]): Array[Byte] = {
    val h = CryptoPool.md5()
    h.update(PasswordPadding)
    h.update(id0)
    var encrypted = rc4(ekey, h.digest())
    var i = 0
    while (i < 19) {
      val ekey2 = ekey.map(b => (b ^ (i + 1)).toByte)
      encrypted = rc4(ekey2, encrypted)
      i += 1
    }
    java.util.Arrays.copyOf(encrypted, 32)
  }

  /** Per-object key of the V2/AESV2 filters (crypt_filters.go makeKey):
    * MD5(ekey + objNum LE24 + genNum LE16 [+ "sAlT" for AES]) truncated to
    * min(len+5, 16).
    */
  def objectKey(ekey: Array[Byte], objNum: Long, genNum: Long, isAes: Boolean): Array[Byte] = {
    val key = new Array[Byte](ekey.length + 5 + (if (isAes) 4 else 0))
    System.arraycopy(ekey, 0, key, 0, ekey.length)
    var i = 0
    while (i < 3) { key(ekey.length + i) = ((objNum >> (8 * i)) & 0xff).toByte; i += 1 }
    i = 0
    while (i < 2) { key(ekey.length + 3 + i) = ((genNum >> (8 * i)) & 0xff).toByte; i += 1 }
    if (isAes) { key(ekey.length + 5) = 0x73; key(ekey.length + 6) = 0x41
      key(ekey.length + 7) = 0x6c; key(ekey.length + 8) = 0x54 }
    val hashb = CryptoPool.md5().digest(key)
    if (ekey.length + 5 < 16) java.util.Arrays.copyOf(hashb, ekey.length + 5) else hashb
  }

  /** Hand-rolled RC4 (no provider dependence). */
  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = new Array[Int](256)
    var i = 0
    while (i < 256) { s(i) = i; i += 1 }
    var j = 0
    i = 0
    while (i < 256) {
      j = (j + s(i) + (key(i % key.length) & 0xff)) & 0xff
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0; var y = 0
    var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + s(x)) & 0xff
      val t = s(x); s(x) = s(y); s(y) = t
      out(k) = (data(k) ^ s((s(x) + s(y)) & 0xff)).toByte
      k += 1
    }
    out
  }

  /** AES-CBC decrypt with IV as the first 16 bytes + PKCS#5-ish pad strip
    * (crypt_filters.go:185-240, including the lenient pad handling).
    */
  def aesCbcDecrypt(okey: Array[Byte], buf: Array[Byte]): Array[Byte] = {
    if (buf.length < 16) throw new PdfError(s"AES: Buf len < 16 (${buf.length})")
    val iv = java.util.Arrays.copyOf(buf, 16)
    val body = java.util.Arrays.copyOfRange(buf, 16, buf.length)
    if (body.length % 16 != 0)
      throw new PdfError(s"AES buf length not multiple of 16 (${body.length})")
    if (body.isEmpty) return body
    val dec = aesCbcDecryptNoStrip(okey, iv, body)
    val padLen = dec(dec.length - 1) & 0xff
    if (padLen >= dec.length) throw new PdfError("Invalid pad length")
    java.util.Arrays.copyOf(dec, dec.length - padLen)
  }

  def aesCbcDecryptNoStrip(okey: Array[Byte], iv: Array[Byte], body: Array[Byte]): Array[Byte] = {
    val cipher = CryptoPool.aesCbcNoPad()
    cipher.init(Cipher.DECRYPT_MODE, new SecretKeySpec(okey, "AES"), new IvParameterSpec(iv))
    cipher.doFinal(body)
  }

  /** Algorithm 2.B hash for R6 (crypt.go:1144-1221). */
  def alg2bR6(data: Array[Byte], pwd: Array[Byte], userKey: Array[Byte]): Array[Byte] = {
    var K = CryptoPool.sha256().digest(data)
    var i = 0
    var done = false
    var lastE: Array[Byte] = null
    while (!done) {
      // step a: repeat (pwd + K + userKey) 64 times
      val n = pwd.length + K.length + userKey.length
      val k1 = new Array[Byte](n * 64)
      System.arraycopy(pwd, 0, k1, 0, pwd.length)
      System.arraycopy(K, 0, k1, pwd.length, K.length)
      System.arraycopy(userKey, 0, k1, pwd.length + K.length, userKey.length)
      var bp = n
      while (bp < k1.length) {
        val c = math.min(bp, k1.length - bp)
        System.arraycopy(k1, 0, k1, bp, c)
        bp *= 2
      }
      // step b: AES-128-CBC encrypt with key K[0:16], iv K[16:32]
      val cipher = CryptoPool.aesCbcNoPad()
      cipher.init(Cipher.ENCRYPT_MODE,
        new SecretKeySpec(java.util.Arrays.copyOf(K, 16), "AES"),
        new IvParameterSpec(java.util.Arrays.copyOfRange(K, 16, 32)))
      val e = cipher.doFinal(k1)
      lastE = e
      // step c: select the next hash from the first 16 bytes of E
      var b = 0
      var t = 0
      while (t < 16) { b += (e(t) & 0xff) % 3; t += 1 }
      val md = (b % 3) match {
        case 0 => CryptoPool.sha256()
        case 1 => CryptoPool.sha384()
        case _ => CryptoPool.sha512()
      }
      K = md.digest(e)
      i += 1
      if (i >= 64 && (lastE(lastE.length - 1) & 0xff) <= i - 32) done = true
    }
    java.util.Arrays.copyOf(K, 32)
  }

  /** PdfCryptMakeNew (crypt.go:308-461). `resolve` resolves the CF-dict
    * references only (as the reference does via the parser).
    */
  def makeNew(ed: PdfDict, trailer: PdfDict, resolve: PdfObj => PdfObj): PdfCrypt = {
    ed.get("Filter") match {
      case PdfName("Standard") => ()
      case PdfName(_)          => throw new PdfError("Unsupported Filter")
      case _                   => throw new PdfError("Required crypt field Filter missing")
    }
    var length = 40
    ed.get("Length") match {
      case PdfInt(l) =>
        if (l % 8 != 0) throw new PdfError("Invalid encryption length")
        length = l.toInt
      case null => ()
      case _    => ()
    }
    var v = 0
    var cryptFilters = Map.empty[String, FilterDef]
    var stringFilter = "Identity"
    var streamFilter = "Identity"
    ed.get("V") match {
      case PdfInt(vv) =>
        v = vv.toInt
        if (v >= 1 && v <= 2) {
          cryptFilters = Map(StandardCryptFilterName -> FilterDef("V2", length),
            "Identity" -> FilterDef("", 0))
        } else if (v >= 4 && v <= 5) {
          val (cf, strF, stmF) = loadCryptFilters(ed, resolve)
          cryptFilters = cf; stringFilter = strF; streamFilter = stmF
        } else throw new PdfError("Unsupported algorithm")
      case _ =>
        // Missing /V: the reference leaves V=0 with NO crypt filters
        // (crypt.go:342-358 only installs them for an integer V), so every
        // later decrypt fails "Unknown crypt filter" — a document error,
        // not a silently-RC4-decrypted document.
        ()
    }
    val r = ed.get("R") match {
      case PdfInt(rr) =>
        if (rr < 2 || rr > 6) throw new PdfError(s"Invalid R ($rr)")
        rr.toInt
      case _ => throw new PdfError("Encrypt dictionary missing R")
    }
    val o = ed.get("O") match {
      case s: PdfStr =>
        if ((r == 5 || r == 6) && s.bytes.length < 48)
          throw new PdfError(s"Length(O) < 48 (${s.bytes.length})")
        if (r < 5 && s.bytes.length != 32)
          throw new PdfError(s"Length(O) != 32 (${s.bytes.length})")
        s.bytes
      case _ => throw new PdfError("Encrypt dictionary missing O")
    }
    val u = ed.get("U") match {
      case s: PdfStr =>
        if ((r == 5 || r == 6) && s.bytes.length < 48)
          throw new PdfError(s"Length(U) < 48 (${s.bytes.length})")
        s.bytes // != 32 is tolerated for r < 5 (warning only in reference)
      case _ => throw new PdfError("Encrypt dictionary missing U")
    }
    var oe: Array[Byte] = null
    var ue: Array[Byte] = null
    if (r >= 5) {
      oe = ed.get("OE") match {
        case s: PdfStr if s.bytes.length == 32 => s.bytes
        case _: PdfStr => throw new PdfError("Length(OE) != 32")
        case _         => throw new PdfError("Encrypt dictionary missing OE")
      }
      ue = ed.get("UE") match {
        case s: PdfStr if s.bytes.length == 32 => s.bytes
        case _: PdfStr => throw new PdfError("Length(UE) != 32")
        case _         => throw new PdfError("Encrypt dictionary missing UE")
      }
    }
    val p = ed.get("P") match {
      case PdfInt(pp) => pp.toInt
      case _          => throw new PdfError("Encrypt dictionary missing permissions attr")
    }
    var perms: Array[Byte] = null
    if (r == 6) {
      perms = ed.get("Perms") match {
        case s: PdfStr if s.bytes.length == 16 => s.bytes
        case _: PdfStr => throw new PdfError("Length(Perms) != 16")
        case _         => throw new PdfError("Encrypt dictionary missing Perms")
      }
    }
    val encryptMetadata = ed.get("EncryptMetadata") match {
      case PdfBool(b) => b
      case _          => true
    }
    var id0 = Array.emptyByteArray
    trailer.get("ID") match {
      case arr: PdfArr if arr.length >= 1 =>
        arr(0) match {
          case s: PdfStr => id0 = s.bytes
          case _         => throw new PdfError("Invalid trailer ID")
        }
      case _ => ()
    }
    new PdfCrypt(v, r, length, o, u, oe, ue, perms, p, encryptMetadata, id0,
      cryptFilters, stringFilter, streamFilter)
  }

  /** LoadCryptFilters (crypt.go:168-280). */
  private def loadCryptFilters(ed: PdfDict, resolve: PdfObj => PdfObj):
      (Map[String, FilterDef], String, String) = {
    val filters = scala.collection.mutable.HashMap.empty[String, FilterDef]
    val cfObj = PdfObjs.traceToDirect(resolve(ed.get("CF"))) match {
      case d: PdfDict => d
      case _          => throw new PdfError("Invalid CF")
    }
    for (name <- cfObj.keys if name != "Identity") {
      val dict = PdfObjs.traceToDirect(resolve(cfObj.get(name))) match {
        case d: PdfDict => d
        case _          => throw new PdfError(s"Invalid dict in CF (name $name)")
      }
      dict.get("Type") match {
        case PdfName("CryptFilter") | null => ()
        case PdfName(t) => throw new PdfError(s"CF dict type != CryptFilter ($t)")
        case _          => ()
      }
      val cfm = dict.get("CFM") match {
        case PdfName(n) => n
        case _          => throw new PdfError("Unsupported crypt filter (None)")
      }
      if (cfm != "V2" && cfm != "AESV2" && cfm != "AESV3")
        throw new PdfError(s"unsupported crypt filter: $cfm")
      var flen = 0
      dict.get("Length") match {
        case PdfInt(l0) =>
          var l = l0
          if (l % 8 != 0) throw new PdfError(s"Crypt filter length not multiple of 8 ($l)")
          if (l < 5 || l > 16) {
            if (l == 64 || l == 128) l = l / 8
            else if (!(l == 32 && cfm == "AESV3"))
              throw new PdfError(s"Crypt filter length not in range 40 - 128 bit ($l)")
          }
          flen = l.toInt
        case _ => ()
      }
      filters(name) = FilterDef(cfm, flen)
    }
    filters("Identity") = FilterDef("", 0)
    var strF = "Identity"
    ed.get("StrF") match {
      case PdfName(n) =>
        if (!filters.contains(n)) throw new PdfError(s"Crypt filter for StrF not specified in CF dictionary ($n)")
        strF = n
      case _ => ()
    }
    var stmF = "Identity"
    ed.get("StmF") match {
      case PdfName(n) =>
        if (!filters.contains(n)) throw new PdfError(s"Crypt filter for StmF not specified in CF dictionary ($n)")
        stmF = n
      case _ => ()
    }
    (filters.toMap, strF, stmF)
  }
}

package graft.pdf

import java.security.MessageDigest

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import PdfCrypt.{rc4, PasswordPadding}

/** FORWARD direction of the PDF standard security handler, used only by the
  * fixture builders to author encrypted test documents (the engine itself
  * only decrypts — graft.pdf.Crypt). Algorithms 2/3/5 mirror the spec (and
  * crypt.go's derivations) so the kernel's authenticate() accepts the output
  * with the empty user password.
  */
object PdfEncrypt {

  def padded(pass: Array[Byte]): Array[Byte] = {
    val key = new Array[Byte](32)
    val n = math.min(32, pass.length)
    System.arraycopy(pass, 0, key, 0, n)
    if (n < 32) System.arraycopy(PasswordPadding, 0, key, n, 32 - n)
    key
  }

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val h = CryptoPool.md5()
    parts.foreach(h.update)
    h.digest()
  }

  /** Algorithm 2: file encryption key (R3/R4, 50x re-hash of the first
    * length/8 bytes — mirrors Crypt.alg2 exactly).
    */
  def alg2Key(upass: Array[Byte], o: Array[Byte], p: Int, id0: Array[Byte],
              r: Int, lengthBits: Int, encryptMetadata: Boolean = true): Array[Byte] = {
    val h = CryptoPool.md5()
    h.update(padded(upass))
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

  /** Algorithm 3: the /O value. RC4 chain over padded(upass) with the owner
    * key XOR i ASCENDING (decryption unchains with 19-i).
    */
  def alg3O(opass: Array[Byte], upass: Array[Byte], r: Int, lengthBits: Int): Array[Byte] = {
    // owner key: MD5(padded(opass)); R>=3: 50x MD5 over the FULL digest.
    var h = CryptoPool.md5()
    h.update(padded(opass))
    var digest = h.digest()
    if (r >= 3) {
      var i = 0
      while (i < 50) { digest = md5(digest); i += 1 }
    }
    val encKey =
      if (r == 2) java.util.Arrays.copyOf(digest, 5)
      else java.util.Arrays.copyOf(digest, lengthBits / 8)
    var s = padded(upass)
    if (r == 2) s = rc4(encKey, s)
    else {
      var i = 0
      while (i < 20) {
        val k = encKey.map(b => (b ^ i).toByte)
        s = rc4(k, s)
        i += 1
      }
    }
    s
  }

  /** Algorithm 5: the /U value for R>=3 (first 16 bytes significant). */
  def alg5U(ekey: Array[Byte], id0: Array[Byte]): Array[Byte] = {
    var enc = rc4(ekey, md5(PasswordPadding, id0))
    var i = 0
    while (i < 19) {
      val k = ekey.map(b => (b ^ (i + 1)).toByte)
      enc = rc4(k, enc)
      i += 1
    }
    java.util.Arrays.copyOf(enc, 32) // back half zeros (never compared)
  }

  /** Per-object key (crypt_filters.go makeKey): MD5(ekey + objNum LE24 +
    * genNum LE16 [+ "sAlT" for AES]) truncated to min(len+5, 16).
    */
  def objectKey(ekey: Array[Byte], objNum: Long, genNum: Long, isAes: Boolean): Array[Byte] = {
    val key = new Array[Byte](ekey.length + 5 + (if (isAes) 4 else 0))
    System.arraycopy(ekey, 0, key, 0, ekey.length)
    var i = 0
    while (i < 3) { key(ekey.length + i) = ((objNum >> (8 * i)) & 0xff).toByte; i += 1 }
    i = 0
    while (i < 2) { key(ekey.length + 3 + i) = ((genNum >> (8 * i)) & 0xff).toByte; i += 1 }
    if (isAes) {
      key(ekey.length + 5) = 0x73; key(ekey.length + 6) = 0x41
      key(ekey.length + 7) = 0x6c; key(ekey.length + 8) = 0x54
    }
    val hashb = CryptoPool.md5().digest(key)
    if (ekey.length + 5 < 16) java.util.Arrays.copyOf(hashb, ekey.length + 5) else hashb
  }

  /** AES-128-CBC encrypt with explicit IV prepended + PKCS#5 padding (the
    * layout aesCbcDecrypt strips).
    */
  def aesEncrypt(okey: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val cipher = CryptoPool.aesCbcPkcs5()
    cipher.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(okey, "AES"), new IvParameterSpec(iv))
    val body = cipher.doFinal(data)
    val out = new Array[Byte](16 + body.length)
    System.arraycopy(iv, 0, out, 0, 16)
    System.arraycopy(body, 0, out, 16, body.length)
    out
  }

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  // ------------------------------------------------------------- R6 (AESV3)

  /** R6 credential material for one password set: (U, UE, O, OE, Perms).
    * Forward direction of algorithms 8/9/10 (ISO 32000-2), built on the
    * kernel's alg2bR6 hash so authenticate() accepts it:
    *  - U  = alg2b(upass + vsalt)(32) ++ vsalt(8) ++ ksalt(8)
    *  - UE = AES-256-CBC-NoPad(key = alg2b(upass + ksalt), iv 0, fileKey)
    *  - O  = alg2b(opass + vsalt' + U)(32) ++ vsalt'(8) ++ ksalt'(8)
    *  - OE = AES-256-CBC-NoPad(key = alg2b(opass + ksalt' + U), iv 0, fileKey)
    *  - Perms = AES-256-ECB(fileKey, [P LE32 | ff*4 | 'T'/'F' | adb | seed])
    */
  def r6Credentials(upass: Array[Byte], opass: Array[Byte], fileKey: Array[Byte],
                    p: Int, encryptMetadata: Boolean,
                    saltSeed: Array[Byte]): (Array[Byte], Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
    import PdfCrypt.alg2bR6
    require(fileKey.length == 32)
    def aesNoPad(key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val c = CryptoPool.aesCbcNoPad()
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
      c.doFinal(data)
    }
    val salts = CryptoPool.sha256().digest(saltSeed) // 32 deterministic bytes
    val uv = java.util.Arrays.copyOfRange(salts, 0, 8)   // user validation salt
    val uk = java.util.Arrays.copyOfRange(salts, 8, 16)  // user key salt
    val ov = java.util.Arrays.copyOfRange(salts, 16, 24) // owner validation salt
    val ok = java.util.Arrays.copyOfRange(salts, 24, 32) // owner key salt
    val uHash = java.util.Arrays.copyOf(alg2bR6(upass ++ uv, upass, Array.emptyByteArray), 32)
    val u = uHash ++ uv ++ uk // 48 bytes
    val ue = aesNoPad(java.util.Arrays.copyOf(alg2bR6(upass ++ uk, upass, Array.emptyByteArray), 32),
      new Array[Byte](16), fileKey)
    val oHash = java.util.Arrays.copyOf(alg2bR6(opass ++ ov ++ u, opass, u), 32)
    val o = oHash ++ ov ++ ok // 48 bytes
    val oe = aesNoPad(java.util.Arrays.copyOf(alg2bR6(opass ++ ok ++ u, opass, u), 32),
      new Array[Byte](16), fileKey)
    val perms = new Array[Byte](16)
    var i = 0
    while (i < 4) { perms(i) = ((p >> (8 * i)) & 0xff).toByte; i += 1 }
    perms(4) = 0xff.toByte; perms(5) = 0xff.toByte; perms(6) = 0xff.toByte; perms(7) = 0xff.toByte
    perms(8) = (if (encryptMetadata) 'T' else 'F').toByte
    perms(9) = 'a'; perms(10) = 'd'; perms(11) = 'b'
    System.arraycopy(salts, 0, perms, 12, 4) // random-ish tail
    val ecb = CryptoPool.aesEcbNoPad()
    ecb.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(fileKey, "AES"))
    val permsEnc = ecb.doFinal(perms)
    (u, ue, o, oe, permsEnc)
  }
}

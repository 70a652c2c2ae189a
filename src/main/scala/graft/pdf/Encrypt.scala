package graft.pdf

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import PdfCrypt.{alg3Key, padded, rc4}

/** FORWARD direction of the PDF standard security handler, used by the
  * writer and the fixture builders to author encrypted documents. The key
  * derivations (algorithms 2, 3's owner key, 5 and the per-object key) are
  * the reader's own, in `object PdfCrypt`, so the kernel's authenticate()
  * accepts the output by construction.
  */
object PdfEncrypt {

  /** Algorithm 3: the /O value. RC4 chain over padded(upass) with the owner
    * key XOR i ASCENDING (decryption unchains with 19-i).
    */
  def alg3O(opass: Array[Byte], upass: Array[Byte], r: Int, lengthBits: Int): Array[Byte] = {
    val encKey = alg3Key(opass, r, lengthBits)
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

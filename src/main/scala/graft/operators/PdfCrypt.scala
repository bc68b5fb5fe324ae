package graft.operators

/** The PDF STANDARD SECURITY HANDLER (ISO 32000-1 §7.6.3) for the
  * empty-user-password case — the dominant real-world encrypted PDF:
  * "owner-password only" files set restrictions but leave the user
  * password empty, which a conforming reader may legitimately open.
  * Implemented: the published subset V ∈ {1,2} (RC4, 40–128 bit) and
  * V = 4 with /CFM /V2 (RC4) or /AESV2 (AES-128-CBC), R ∈ {2,3,4}.
  * Anything else — V5/AES-256, crypt filters other than StdCF, a
  * NON-empty user password — stays the counted `encrypted` degrade:
  * the verifier proves the empty password opens the file BEFORE any
  * byte decrypts, so a wrong guess can never emit garbage text.
  *
  * All primitives are deterministic byte math (MD5 + RC4 implemented
  * inline per the published algorithms; AES-CBC via the JVM's
  * standard cipher), shared verbatim by the reader and the fixture
  * writer so the gate proves interop, not self-consistency.
  * Reference scope: the reference ingests line JSON only
  * (`App.java:136-162`).
  */
object PdfCrypt {

  /** The resolved decryption context: the FILE key and the cipher the
    * crypt filter names. `v5` marks AES-256 (V5/R6), where the 32-byte
    * file key applies to every object directly — no per-object MD5
    * derivation (§7.6.2 applies only to V ≤ 4).
    */
  final case class FileKey(key: Array[Byte], aes: Boolean, v5: Boolean = false)

  /** The 32-byte password pad (§7.6.3.3, Algorithm 2 step a). */
  val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }

  /** Password padded/truncated to exactly 32 bytes (Algorithm 2a). */
  private def padPwd(pwd: Array[Byte]): Array[Byte] =
    (pwd ++ Pad).take(32)

  /** RC4 — the published KSA + PRGA, symmetric for encrypt/decrypt. */
  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + s(i) + key(i % key.length)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0
    var y = 0
    i = 0
    while (i < data.length) {
      x = (x + 1) & 0xFF
      y = (y + s(x)) & 0xFF
      val t = s(x); s(x) = s(y); s(y) = t
      out(i) = (data(i) ^ s((s(x) + s(y)) & 0xFF)).toByte
      i += 1
    }
    out
  }

  /** Algorithm 2: the file encryption key from a (padded) user
    * password. `encMeta = false` (R ≥ 4) appends the FFFFFFFF marker.
    */
  def fileKey(userPwd: Array[Byte], o: Array[Byte], p: Int, id0: Array[Byte],
      r: Int, keyLen: Int, encMeta: Boolean): Array[Byte] = {
    val pLe = Bytes.le(p, 4)
    val tail: Array[Byte] =
      if (r >= 4 && !encMeta) Array(0xFF.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
      else Array.empty
    var h = md5(padPwd(userPwd), o.take(32), pLe, id0, tail)
    if (r >= 3) (0 until 50).foreach(_ => h = md5(h.take(keyLen)))
    h.take(keyLen)
  }

  /** Algorithm 3: the /O value from the owner (and user) passwords —
    * fixture-writer side.
    */
  def computeO(ownerPwd: Array[Byte], userPwd: Array[Byte], r: Int,
      keyLen: Int): Array[Byte] = {
    var h = md5(padPwd(ownerPwd))
    if (r >= 3) (0 until 50).foreach(_ => h = md5(h))
    val key = h.take(keyLen)
    var o = rc4(key, padPwd(userPwd))
    if (r >= 3) (1 to 19).foreach { i =>
      o = rc4(key.map(b => (b ^ i).toByte), o)
    }
    o
  }

  /** Algorithms 4 (R2) / 5 (R ≥ 3): the /U value from the file key.
    * R ≥ 3 defines only the first 16 bytes; the published convention
    * pads with zeros (comparison is first-16 there).
    */
  def computeU(key: Array[Byte], r: Int, id0: Array[Byte]): Array[Byte] =
    if (r == 2) rc4(key, Pad)
    else {
      var u = rc4(key, md5(Pad, id0))
      (1 to 19).foreach { i => u = rc4(key.map(b => (b ^ i).toByte), u) }
      u ++ new Array[Byte](16)
    }

  /** Algorithm 6 specialized to the EMPTY user password: derive the
    * key, recompute /U, compare (all 32 bytes for R2, first 16 for
    * R ≥ 3). Some(key) iff the empty password opens the file.
    */
  def emptyUserKey(o: Array[Byte], u: Array[Byte], p: Int, id0: Array[Byte],
      r: Int, keyLen: Int, aes: Boolean, encMeta: Boolean): Option[FileKey] = {
    if (keyLen < 5 || keyLen > 16 || o.length < 32 || u.length < 16) return None
    val key = fileKey(Array.empty, o, p, id0, r, keyLen, encMeta)
    val expect = computeU(key, r, id0)
    val cmp = if (r == 2) 32 else 16
    if (u.length < cmp) return None
    val ok = (0 until cmp).forall(i => expect(i) == u(i))
    if (ok) Some(FileKey(key, aes)) else None
  }

  /** Per-object key (§7.6.2, Algorithm 1): MD5(file key ‖ obj# LE24 ‖
    * gen LE16 ‖ "sAlT" for AES), truncated to min(len+5, 16).
    */
  def objectKey(fk: FileKey, num: Int, gen: Int): Array[Byte] = {
    val ext = Bytes.le(num, 3) ++ Bytes.le(gen, 2)
    val salt: Array[Byte] =
      if (fk.aes) Array(0x73, 0x41, 0x6C, 0x54).map(_.toByte) else Array.empty
    md5(fk.key, ext, salt).take(math.min(fk.key.length + 5, 16))
  }

  private def sha(alg: String, data: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance(alg).digest(data)

  /** Algorithm 2.B (R6): the iterated SHA-256/384/512 + AES-CBC hash.
    * Always ≥ 64 rounds, then until E's last byte ≤ round − 32; the
    * 64-fold repetition keeps every AES input a 16-byte multiple for
    * any password/udata length.
    */
  def hash2b(pwd: Array[Byte], salt: Array[Byte], udata: Array[Byte]): Array[Byte] = {
    var k = sha("SHA-256", pwd ++ salt ++ udata)
    var i = 0
    var going = true
    var e: Array[Byte] = Array.empty
    while (going) {
      val block = pwd ++ k ++ udata
      val k1 = new Array[Byte](block.length * 64)
      (0 until 64).foreach(j => System.arraycopy(block, 0, k1, j * block.length, block.length))
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(k.take(16), "AES"),
        new javax.crypto.spec.IvParameterSpec(k.slice(16, 32)))
      e = c.doFinal(k1)
      val mod = e.take(16).foldLeft(0)((acc, b) => (acc * 256 + (b & 0xFF)) % 3)
      k = sha(Seq("SHA-256", "SHA-384", "SHA-512")(mod), e)
      i += 1
      going = i < 64 || (e(e.length - 1) & 0xFF) > i - 32
    }
    k.take(32)
  }

  /** AES-CBC without padding, fixed IV — the §7.6.4.3 key-unwrap
    * primitive (UE/OE hold exactly 32 bytes; the Perms check uses ECB,
    * not needed for the empty-user path).
    */
  def aesNoPad(key: Array[Byte], data: Array[Byte], encryptMode: Boolean): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(
      if (encryptMode) javax.crypto.Cipher.ENCRYPT_MODE
      else javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(new Array[Byte](16)))
    c.doFinal(data)
  }

  /** V5 (AES-256) empty-user-password verification + key retrieval
    * (§7.6.4.4.10 / 4.8): /U is hash(32) ‖ validation salt(8) ‖ key
    * salt(8); R6 hashes via [[hash2b]], R5 via single SHA-256. On a
    * match the 32-byte file key unwraps from /UE.
    */
  def emptyUserKeyV5(u: Array[Byte], ue: Array[Byte], r: Int): Option[FileKey] = {
    if (u.length < 48 || ue.length < 32) return None
    val vSalt = u.slice(32, 40)
    val kSalt = u.slice(40, 48)
    def h(salt: Array[Byte]): Array[Byte] =
      if (r == 6) hash2b(Array.empty, salt, Array.empty)
      else sha("SHA-256", salt) // R5: SHA-256(pwd ‖ salt), pwd empty
    val expect = h(vSalt)
    if (!(0 until 32).forall(i => expect(i) == u(i))) return None
    try Some(FileKey(aesNoPad(h(kSalt), ue.take(32), encryptMode = false),
      aes = true, v5 = true))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decrypt one string/stream's bytes under the object's key. AES
    * payloads carry their IV in the first 16 bytes and PKCS#5 padding;
    * a malformed AES payload (bad length, bad padding) is None — the
    * caller degrades, never emits garbage.
    */
  def decrypt(fk: FileKey, num: Int, gen: Int, data: Array[Byte]): Option[Array[Byte]] = {
    val ok = if (fk.v5) fk.key else objectKey(fk, num, gen)
    if (!fk.aes) Some(rc4(ok, data))
    else {
      if (data.length < 32 || data.length % 16 != 0) return None
      try {
        val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
        c.init(javax.crypto.Cipher.DECRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(ok, "AES"),
          new javax.crypto.spec.IvParameterSpec(data.take(16)))
        val plain = c.doFinal(data, 16, data.length - 16)
        val padN = plain(plain.length - 1) & 0xFF
        if (padN < 1 || padN > 16 || padN > plain.length) None
        else if (!(plain.length - padN until plain.length)
          .forall(i => (plain(i) & 0xFF) == padN)) None
        else Some(java.util.Arrays.copyOf(plain, plain.length - padN))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Encrypt (fixture-writer side): RC4 symmetric, or AES-CBC with the
    * given deterministic IV and PKCS#5 padding, IV prepended.
    */
  def encrypt(fk: FileKey, num: Int, gen: Int, data: Array[Byte],
      iv: Array[Byte]): Array[Byte] = {
    val ok = if (fk.v5) fk.key else objectKey(fk, num, gen)
    if (!fk.aes) rc4(ok, data)
    else {
      val padN = 16 - data.length % 16
      val padded = data ++ Array.fill(padN)(padN.toByte)
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(ok, "AES"),
        new javax.crypto.spec.IvParameterSpec(iv.take(16)))
      iv.take(16) ++ c.doFinal(padded)
    }
  }
}

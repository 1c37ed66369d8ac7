package graft.ops

import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** PDF standard security handler ([PDF 32000] 7.6.2-7.6.4): RC4
  * (V1/V2), AES-128-CBC (V4 /AESV2) and AES-256-CBC (V5 /AESV3,
  * R5/R6) decryption for documents openable with the EMPTY user
  * password — the overwhelmingly common "owner-locked" case.
  *
  * The reference loads encrypted PDFs by forcing pdf-lib's
  * `ignoreEncryption` (pdf-tool/page.tsx:338,383) and operates on the
  * still-encrypted bytes; this module goes further and actually
  * decrypts, so page operations over modern encrypted files (whose
  * object structure hides inside encrypted /ObjStm streams) work and
  * the outputs serialize as plaintext. Password-protected documents
  * (non-empty user password) and non-Standard filters raise defined
  * errors.
  *
  * Everything here is the published algorithm set: file key from
  * Algorithm 2 (MD5 + 50-fold iteration for R3/4) or 2.A/2.B
  * (SHA-256/384/512 cascade for R5/R6), user-password check from
  * Algorithms 4/5 (R2-4) and 11 (R5/6), per-object keys from
  * Algorithm 1 (MD5 of key || objnum || gen [|| sAlT]) or the file
  * key itself (V5). RC4 is the textbook KSA/PRGA; AES runs through
  * javax.crypto (AES/CBC/NoPadding, IV = first cipher block).
  */
object PdfCrypt {

  /** 32-byte password pad ([PDF 32000] 7.6.3.3 Table 21 note). */
  private[ops] val PAD: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private def pad32(pw: Array[Byte]): Array[Byte] = (pw.take(32) ++ PAD).take(32)

  private[ops] def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }
  private def sha(bits: Int, parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance(s"SHA-$bits")
    parts.foreach(d.update)
    d.digest()
  }

  /** Textbook RC4 (symmetric: encrypt == decrypt). */
  private[ops] def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val s = Array.tabulate(256)(identity)
    var j = 0
    for (i <- 0 until 256) {
      j = (j + s(i) + (key(i % key.length) & 0xFF)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
    }
    val out = new Array[Byte](data.length)
    var i = 0; j = 0
    for (k <- data.indices) {
      i = (i + 1) & 0xFF
      j = (j + s(i)) & 0xFF
      val t = s(i); s(i) = s(j); s(j) = t
      out(k) = (data(k) ^ s((s(i) + s(j)) & 0xFF)).toByte
    }
    out
  }

  private def aes(mode: Int, key: Array[Byte], iv: Array[Byte],
      data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(mode, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** Algorithm 2.B (R6): the iterated SHA-256/384/512 password hash. */
  private[ops] def hash2B(pw: Array[Byte], salt: Array[Byte],
      udata: Array[Byte]): Array[Byte] = {
    var k = sha(256, pw, salt, udata)
    var i = 0
    var last = 0
    var done = false
    while (!done) {
      val k1 = new java.io.ByteArrayOutputStream()
      (0 until 64).foreach { _ => k1.write(pw); k1.write(k); k1.write(udata) }
      val e = aes(Cipher.ENCRYPT_MODE, k.take(16), k.slice(16, 32), k1.toByteArray)
      val mod = e.take(16).map(_ & 0xFF).sum % 3
      k = sha(if (mod == 0) 256 else if (mod == 1) 384 else 512, e)
      last = e.last & 0xFF
      i += 1
      done = i >= 64 && last <= i - 32
    }
    k.take(32)
  }

  private def xorKey(key: Array[Byte], i: Int): Array[Byte] =
    key.map(b => (b ^ i).toByte)

  /** RC4 under `key` XOR i for each i of `rounds` in turn: the R3/R4
    * 20-pass cascade of Algorithms 3, 5 and 7 (i = 0 is `key` itself). */
  private def rc4Cascade(key: Array[Byte], data: Array[Byte], rounds: Range): Array[Byte] =
    rounds.foldLeft(data)((x, i) => rc4(xorKey(key, i), x))

  sealed trait Algo
  case object Rc4 extends Algo
  case object AesV2 extends Algo // AES-128-CBC, per-object key
  case object AesV3 extends Algo // AES-256-CBC, file key used directly

  /** Per-document decryption/encryption state. */
  final case class Handler(fileKey: Array[Byte], algo: Algo) {
    private def objKey(num: Int, gen: Int): Array[Byte] = algo match {
      case AesV3 => fileKey
      case _ =>
        val ext = Array[Byte](
          (num & 0xFF).toByte, ((num >> 8) & 0xFF).toByte, ((num >> 16) & 0xFF).toByte,
          (gen & 0xFF).toByte, ((gen >> 8) & 0xFF).toByte)
        val salt = if (algo == AesV2) "sAlT".getBytes("ISO-8859-1") else Array.empty[Byte]
        md5(fileKey, ext, salt).take(math.min(fileKey.length + 5, 16))
    }

    def decrypt(num: Int, gen: Int, data: Array[Byte]): Array[Byte] = algo match {
      case Rc4 => rc4(objKey(num, gen), data)
      case _ =>
        if (data.length < 32 || data.length % 16 != 0)
          throw new IllegalArgumentException(
            s"encrypted PDF: AES payload of ${data.length} bytes is not IV + whole blocks")
        val plain = aes(Cipher.DECRYPT_MODE, objKey(num, gen), data.take(16), data.drop(16))
        val padLen = plain.last & 0xFF // PKCS#7
        if (padLen < 1 || padLen > 16) throw new IllegalArgumentException(
          s"encrypted PDF: bad AES padding length $padLen (wrong key or corrupt data)")
        plain.dropRight(padLen)
    }

    def encrypt(num: Int, gen: Int, data: Array[Byte]): Array[Byte] = algo match {
      case Rc4 => rc4(objKey(num, gen), data)
      case _ =>
        // Deterministic per-object IV (fixture reproducibility; the
        // decrypt side accepts any IV).
        val iv = md5(objKey(num, gen), Array[Byte](0x49, 0x56))
        val padLen = 16 - (data.length % 16)
        val padded = data ++ Array.fill(padLen)(padLen.toByte)
        iv ++ aes(Cipher.ENCRYPT_MODE, objKey(num, gen), iv, padded)
    }
  }

  /** Parsed subset of the /Encrypt dictionary. */
  private final case class EncDict(v: Int, r: Int, length: Int, p: Int,
      o: Array[Byte], u: Array[Byte], oe: Array[Byte], ue: Array[Byte],
      encryptMetadata: Boolean, cfm: String)

  // ---- /Encrypt dictionary lexing --------------------------------------

  /** Decode the literal string starting at `(`-index `at`; returns
    * (bytes, index past the closing paren). [PDF 32000] 7.3.4.2
    * escapes: named, octal, backslash-EOL (LF, CR or CRLF; dropped),
    * balanced nested parens. A string with no closing paren fails with
    * `unterminated literal string`. */
  private[ops] def readLiteralString(body: String, at: Int): (Array[Byte], Int) = {
    val out = new java.io.ByteArrayOutputStream()
    var i = at + 1; var depth = 1
    while (depth > 0) {
      require(i < body.length, "unterminated literal string")
      body.charAt(i) match {
        case '\\' =>
          require(i + 1 < body.length, "unterminated literal string")
          body.charAt(i + 1) match {
            case 'n' => out.write('\n'); i += 2
            case 'r' => out.write('\r'); i += 2
            case 't' => out.write('\t'); i += 2
            case 'b' => out.write('\b'); i += 2
            case 'f' => out.write('\f'); i += 2
            case '\n' => i += 2
            case '\r' => i += (if (i + 2 < body.length && body.charAt(i + 2) == '\n') 3 else 2)
            case d if d >= '0' && d <= '7' =>
              val oct = body.substring(i + 1, i + 1 + 3.min(body.length - i - 1))
                .takeWhile(c => c >= '0' && c <= '7').take(3)
              out.write(Integer.parseInt(oct, 8) & 0xFF); i += 1 + oct.length
            case c => out.write(c); i += 2
          }
        case '(' => depth += 1; out.write('('); i += 1
        case ')' => depth -= 1; if (depth > 0) out.write(')'); i += 1
        case c => out.write(c); i += 1
      }
    }
    (out.toByteArray, i)
  }

  /** Decode one PDF string (literal or hex) starting exactly at `at`;
    * returns (bytes, index past the string). */
  private[ops] def readStringAt(body: String, at: Int): (Array[Byte], Int) =
    body.charAt(at) match {
      case '<' =>
        val end = body.indexOf('>', at)
        require(end >= 0, "unterminated hex string")
        val hex = body.substring(at + 1, end).filterNot(_.isWhitespace)
        val padded = if (hex.length % 2 == 1) hex + "0" else hex
        (padded.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray, end + 1)
      case '(' => readLiteralString(body, at)
      case c => throw new IllegalArgumentException(s"expected PDF string, found '$c'")
    }

  /** Decode one PDF string found after `key`. */
  private[ops] def pdfString(body: String, key: String): Option[Array[Byte]] =
    (key + """\s*""").r.findFirstMatchIn(body).map(m => readStringAt(body, m.end)._1)

  private def parseEncDict(body: String): EncDict = {
    import Pdf.dictInt
    if ("""/Filter\s*/Standard""".r.findFirstIn(body).isEmpty)
      throw new IllegalArgumentException(
        "encrypted PDF: only the /Standard security handler is supported")
    val v = dictInt(body, "/V").getOrElse(0)
    val r = dictInt(body, "/R").getOrElse(2)
    val length = dictInt(body, "/Length").getOrElse(40)
    val p = dictInt(body, "/P").getOrElse(
      throw new IllegalArgumentException("encrypted PDF: /Encrypt lacks /P"))
    def str(k: String) = pdfString(body, k)
    val o = str("/O").getOrElse(
      throw new IllegalArgumentException("encrypted PDF: /Encrypt lacks /O"))
    val u = str("/U").getOrElse(
      throw new IllegalArgumentException("encrypted PDF: /Encrypt lacks /U"))
    val em = """/EncryptMetadata\s+false""".r.findFirstIn(body).isEmpty
    // V4/V5 crypt filter: /CF << /StdCF << /CFM /AESV2|/AESV3|/V2 >> >>
    val cfm = """/CFM\s*/(\w+)""".r.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
    EncDict(v, r, length, p, o, u,
      str("/OE").getOrElse(Array.empty), str("/UE").getOrElse(Array.empty), em, cfm)
  }

  private def intLE(v: Int): Array[Byte] =
    Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  /** Algorithm 2: file key for R2-R4 from a (padded) user password. */
  private def fileKeyR234(d: EncDict, id0: Array[Byte], userPw: Array[Byte]): Array[Byte] = {
    val n = if (d.r == 2) 5 else d.length / 8
    val extra = if (d.r >= 4 && !d.encryptMetadata)
      Array[Byte](-1, -1, -1, -1) else Array.empty[Byte]
    var key = md5(pad32(userPw), d.o.take(32), intLE(d.p), id0, extra).take(n)
    if (d.r >= 3) (0 until 50).foreach(_ => key = md5(key).take(n))
    key
  }

  /** Algorithms 4/5: does `fileKey` open this document (user pw check)? */
  private def userPwMatches(d: EncDict, id0: Array[Byte], key: Array[Byte]): Boolean =
    if (d.r == 2) java.util.Arrays.equals(rc4(key, PAD), d.u.take(32))
    else java.util.Arrays.equals(rc4Cascade(key, md5(PAD, id0), 0 to 19), d.u.take(16))

  /** Algorithm 3 steps a-d: the RC4 key derived from the OWNER
    * password, used both to produce /O (encrypt side) and to recover
    * the user password from /O (Algorithm 7, decrypt side). */
  private def ownerRc4Key(d: EncDict, ownerPw: Array[Byte]): Array[Byte] = {
    val n = if (d.r == 2) 5 else d.length / 8
    var okey = md5(pad32(ownerPw))
    if (d.r >= 3) (0 until 50).foreach(_ => okey = md5(okey))
    okey.take(n)
  }

  /** Algorithm 7: decrypt /O with the owner-password RC4 key to
    * recover the PADDED user password (R2: one pass; R3/4: 19..0
    * XOR-keyed passes, the inverse of Algorithm 3 step f). */
  private def recoverUserPw(d: EncDict, ownerPw: Array[Byte]): Array[Byte] = {
    val ok = ownerRc4Key(d, ownerPw)
    if (d.r == 2) rc4(ok, d.o.take(32))
    else rc4Cascade(ok, d.o.take(32), 19 to 0 by -1)
  }

  private def pwError(supplied: Boolean): Nothing =
    throw new IllegalArgumentException(
      if (supplied) "encrypted PDF: wrong password"
      else "password-protected PDF: user or owner password required")

  /** Resolve the handler for a document. The supplied password is
    * tried first as the USER password (Algorithms 4/5 for R2-4,
    * Algorithm 11 for R5/6) and then as the OWNER password
    * (Algorithm 7 for R2-4, Algorithm 12 for R5/6) — matching how
    * every viewer's password prompt behaves. Empty password = the
    * owner-locked convention. Defined errors for unsupported schemes
    * or a password that opens neither way. */
  private[ops] def forDocument(encBody: String, id0: Array[Byte],
      password: Array[Byte] = Array.empty): Handler = {
    val d = parseEncDict(encBody)
    d.v match {
      case 1 | 2 | 4 if d.r >= 2 && d.r <= 4 =>
        val algo =
          if (d.v == 4 && d.cfm == "AESV2") AesV2
          else if (d.v == 4 && d.cfm != "V2" && d.cfm.nonEmpty)
            throw new IllegalArgumentException(
              s"encrypted PDF: crypt filter /${d.cfm} unsupported")
          else Rc4
        val asUser = fileKeyR234(d, id0, password)
        if (userPwMatches(d, id0, asUser)) Handler(asUser, algo)
        else {
          // Owner path: /O decrypts to the padded user password;
          // re-derive the file key from it and re-verify against /U.
          val asOwner = fileKeyR234(d, id0, recoverUserPw(d, password))
          if (userPwMatches(d, id0, asOwner)) Handler(asOwner, algo)
          else pwError(password.nonEmpty)
        }
      case 5 =>
        // Algorithm 2.A / 11 / 12:
        //   U = user hash(32) || validation salt(8) || key salt(8)
        //   O = owner hash(32) || validation salt(8) || key salt(8),
        //       owner hashes fold in U[0:48] as the extra udata
        if (d.u.length < 48 || d.ue.length < 32)
          throw new IllegalArgumentException("encrypted PDF: malformed V5 /U or /UE")
        def h(salt: Array[Byte], udata: Array[Byte]) =
          if (d.r == 6) hash2B(password, salt, udata)
          else sha(256, password, salt, udata)
        val u48 = d.u.take(48)
        val userOk = java.util.Arrays.equals(
          h(d.u.slice(32, 40), Array.empty), d.u.take(32))
        val ownerOk = !userOk && d.o.length >= 48 && d.oe.length >= 32 &&
          java.util.Arrays.equals(h(d.o.slice(32, 40), u48), d.o.take(32))
        val fileKey =
          if (userOk)
            aes(Cipher.DECRYPT_MODE, h(d.u.slice(40, 48), Array.empty),
              new Array[Byte](16), d.ue.take(32))
          else if (ownerOk)
            aes(Cipher.DECRYPT_MODE, h(d.o.slice(40, 48), u48),
              new Array[Byte](16), d.oe.take(32))
          else pwError(password.nonEmpty)
        Handler(fileKey, AesV3)
      case v =>
        throw new IllegalArgumentException(s"encrypted PDF: /V $v unsupported")
    }
  }

  // ---- Encryption (fixture builder + writer-side parity) ----------------

  /** Encrypt a plaintext classic-xref PDF produced by [[Pdf.serialize]]
    * with RC4-128 (V2/R3) or AES-128 (V4/R4 /AESV2), owner password
    * `owner`, user password `userPw` (empty = openable by this module's
    * decrypt path; non-empty = the password-protected case). Strings
    * and streams of every object encrypt with the per-object key; the
    * /Encrypt dict and a deterministic /ID land in the trailer. */
  def encrypt(bytes: Array[Byte], aes128: Boolean = false,
      ownerPw: String = "owner", userPw: String = ""): Array[Byte] = {
    val id0 = fixtureId(bytes)
    // 128-bit key; /P -3904 = print allowed, typical owner-locked bits
    val d0 = EncDict(if (aes128) 4 else 2, if (aes128) 4 else 3, 128, -3904,
      Array.empty, Array.empty, Array.empty, Array.empty, encryptMetadata = true,
      if (aes128) "AESV2" else "")
    val userBytes = userPw.getBytes("ISO-8859-1")
    // Algorithm 3: /O from the owner password
    val d = d0.copy(o = rc4Cascade(ownerRc4Key(d0, ownerPw.getBytes("ISO-8859-1")),
      pad32(userBytes), 0 to 19))
    // Algorithm 2 file key for the user password, Algorithm 5 /U
    val key = fileKeyR234(d, id0, userBytes)
    val u32 = rc4Cascade(key, md5(PAD, id0), 0 to 19) ++ Array.fill(16)(0.toByte)
    val cryptSuffix =
      if (aes128) " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
      else ""
    sealDoc(bytes, id0, Handler(key, if (aes128) AesV2 else Rc4),
      s" << /Filter /Standard /V ${d.v} /R ${d.r} /Length ${d.length} " +
        s"/P ${d.p} /O ${hex(d.o)} /U ${hex(u32)}$cryptSuffix >> ")
  }

  /** Encrypt a plaintext classic-xref PDF with AES-256 (V5/R6 /AESV3)
    * per [PDF 32000-2] Algorithms 8 (U/UE), 9 (O/OE) and 2.B: a
    * deterministic 32-byte file key wrapped once under the user
    * password and once under the owner password, so either opens the
    * document via [[forDocument]]'s Algorithm 11/12 checks. */
  def encryptV5(bytes: Array[Byte], ownerPw: String = "owner",
      userPw: String = ""): Array[Byte] = {
    // Deterministic "random" material (fixture reproducibility).
    val fileKey = sha(256, bytes, "v5-file-key".getBytes("ISO-8859-1"))
    def salt(tag: String) = md5(tag.getBytes("ISO-8859-1"), bytes).take(8)
    val (uv, uk, ov, ok) = (salt("uval"), salt("ukey"), salt("oval"), salt("okey"))
    val upw = userPw.getBytes("UTF-8"); val opw = ownerPw.getBytes("UTF-8")
    val u = hash2B(upw, uv, Array.empty) ++ uv ++ uk
    val ue = aes(Cipher.ENCRYPT_MODE, hash2B(upw, uk, Array.empty),
      new Array[Byte](16), fileKey)
    val u48 = u.take(48)
    val o = hash2B(opw, ov, u48) ++ ov ++ ok
    val oe = aes(Cipher.ENCRYPT_MODE, hash2B(opw, ok, u48),
      new Array[Byte](16), fileKey)
    val h = Handler(fileKey, AesV3)

    sealDoc(bytes, fixtureId(bytes), h,
      s" << /Filter /Standard /V 5 /R 6 /Length 256 /P -3904 " +
        s"/O ${hex(o)} /U ${hex(u)} /OE ${hex(oe)} /UE ${hex(ue)} " +
        "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> " +
        "/StmF /StdCF /StrF /StdCF >> ")
  }

  /** A PDF hex string `<…>` of `b`. */
  private[ops] def hex(b: Array[Byte]): String =
    "<" + b.map(x => f"${x & 0xFF}%02x").mkString + ">"

  /** The deterministic fixture /ID of a plaintext document. */
  private def fixtureId(bytes: Array[Byte]): Array[Byte] =
    md5(bytes, "fixture-id".getBytes("ISO-8859-1"))

  /** The tail both encryptors share: encrypt each object's stream
    * section and strings with `h`'s per-object key, drop the old xref
    * and trailer, then append the /Encrypt object `encBody` and a
    * trailer carrying /Encrypt and the /ID pair. (Fixture PDFs are
    * parsed by object scan — no xref table needed.) */
  private def sealDoc(bytes: Array[Byte], id0: Array[Byte], h: Handler,
      encBody: String): Array[Byte] = {
    val text = new String(bytes, "ISO-8859-1")
    val encNum = """(\d+)\s+0\s+obj""".r.findAllMatchIn(text)
      .map(_.group(1).toInt).max + 1
    val rebuilt = Pdf.transformObjects(text, (num, body) =>
      Pdf.transformStreamsAndStrings(body,
        data => h.encrypt(num, 0, data), s => h.encrypt(num, 0, s)))
    val bodyOnly = rebuilt.indexOf("xref\n") match {
      case -1 => rebuilt
      case i => rebuilt.substring(0, i)
    }
    val rootNum = """/Root\s+(\d+)\s+0\s+R""".r.findFirstMatchIn(text)
      .map(_.group(1).toInt).getOrElse(1)
    (bodyOnly + s"$encNum 0 obj$encBody endobj\n" +
      s"trailer\n<< /Size ${encNum + 1} /Root $rootNum 0 R " +
      s"/Encrypt $encNum 0 R /ID [${hex(id0)} ${hex(id0)}] >>\n%%EOF\n")
      .getBytes("ISO-8859-1")
  }
}

package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Byte pins for the PDF writers: the SHA-256 of every fixture-builder
  * call shape the query packs use, of `merge` / `extractPages` on the
  * `pdf_merge_pages` and `pdf_xref_stream_roundtrip` inputs, and of both
  * encryptors on `makePdf`. A refactor of the writers must keep every
  * output byte-identical; a mismatch names the call shape and its new
  * digest. */
class PdfBytesSpec extends AnyFunSuite {

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xFF}%02x").mkString

  private def embedded(base: String, cidSections: String) =
    "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
      s"/$base usecmap\n" +
      "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
      cidSections +
      "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"

  private def filtered(fs: String*) = Pdf.makeFilteredTextPdf(
    Seq(s"BT 72 720 Td (via ${fs.mkString("+")}) Tj ET"), fs)

  /** (call shape, output) for every pinned writer call. */
  private def shapes: Seq[(String, Array[Byte])] = {
    val merged = Pdf.merge(Seq(Pdf.makePdf(3), Pdf.makePdf(4)))
    val modern = Pdf.makePdf(5, withContent = true, xrefStream = true)
    val modernPart = Pdf.extractPages(modern, Seq(2, 4))
    Seq(
      "makePdf(1)" -> Pdf.makePdf(1),
      "makePdf(2)" -> Pdf.makePdf(2),
      "makePdf(3)" -> Pdf.makePdf(3),
      "makePdf(4)" -> Pdf.makePdf(4),
      "makePdf(2,content)" -> Pdf.makePdf(2, withContent = true),
      "makePdf(5,content,xref)" -> modern,
      "makePdf(3,xref)" -> Pdf.makePdf(3, xrefStream = true),
      "merge(3,4)" -> merged,
      "extractPages(merge(3,4),2,5,7)" -> Pdf.extractPages(merged, Seq(2, 5, 7)),
      "extractPages(modern,2,4)" -> modernPart,
      "merge(modern,part)" -> Pdf.merge(Seq(modern, modernPart)),
      "merge(2,1)" -> Pdf.merge(Seq(Pdf.makePdf(2), Pdf.makePdf(1))),
      "makeTextPdf(rich,flate)" -> Pdf.makeTextPdf(Seq(
        "BT /F1 12 Tf 72 720 Td (Hello) Tj ( ) Tj (world) Tj ( caf\\351) Tj ET",
        "BT 72 720 Td [(kern)-200(gap)] TJ T* (line2\\(esc\\)) Tj ET BT 72 600 Td <6869> Tj ET"),
        flate = true),
      "makeTextPdf(x,flate)" -> Pdf.makeTextPdf(Seq("BT (x) Tj ET"), flate = true),
      "makeTextPdf(2 pages)" -> Pdf.makeTextPdf(Seq("BT 72 720 Td (Alpha doc) Tj ET",
        "BT 72 720 Td (Second page) Tj ET")),
      "makeTextPdf(ok)" -> Pdf.makeTextPdf(Seq("BT 72 720 Td (ok) Tj ET")),
      "makeTextPdf(corpus,flate)" -> Pdf.makeTextPdf(
        Seq("BT 72 720 Td (a \\(doc\\) with \\\\ text) Tj ET"), flate = true),
      "makeTextPdf(1,xref)" -> Pdf.makeTextPdf(Seq("BT (x) Tj ET"), xrefStream = true),
      "makeCidPdf(cid,flate)" -> Pdf.makeCidPdf(Seq("Hello CID world", "clef 𝄞 ok"),
        flate = true),
      "makeCidPdf(nomap)" -> Pdf.makeCidPdf(Seq("quiet garbage"), withToUnicode = false),
      "makeCidPdf(UniKS)" -> Pdf.makeCidPdf(Seq("안녕하세요 세계"), withToUnicode = false,
        encoding = "UniKS-UCS2-H"),
      "makeCidPdf(UniJIS,flate)" -> Pdf.makeCidPdf(Seq("日本語 𝄞 テスト"),
        withToUnicode = false, flate = true, encoding = "UniJIS-UTF16-H"),
      "makeCidPdf(Identity-V)" -> Pdf.makeCidPdf(Seq("vertical ok"), encoding = "Identity-V"),
      "makeCidPdf(Identity-V,nomap)" -> Pdf.makeCidPdf(Seq("hidden"),
        withToUnicode = false, encoding = "Identity-V"),
      "makeCidPdf(embedded)" -> Pdf.makeCidPdf(Seq("안녕 세계"), withToUnicode = false,
        embeddedCmap = Some(embedded("UniKS-UCS2-H",
          "1 begincidrange\n<E000> <E0FF> 1000\nendcidrange\n" +
            "1 begincidchar\n<E100> 55\nendcidchar\n"))),
      "makeCidPdf(embedded,flate)" -> Pdf.makeCidPdf(Seq("안녕하세요"),
        withToUnicode = false, flate = true,
        embeddedCmap = Some(embedded("UniKS-UCS2-H", "1 begincidchar\n<D558> 777\nendcidchar\n"))),
      "makeCidPdf(embedded,range)" -> Pdf.makeCidPdf(Seq("가나다라마"), withToUnicode = false,
        embeddedCmap = Some(embedded("UniKS-UCS2-H",
          "1 begincidrange\n<B098> <B2E4> 100\nendcidrange\n"))),
      "makeCidPdf(embedded,identity)" -> Pdf.makeCidPdf(Seq("hidden"), withToUnicode = false,
        embeddedCmap = Some(embedded("Identity-H", ""))),
      "makeType3Pdf(named)" -> Pdf.makeType3Pdf(Seq("BT /F1 12 Tf 72 720 Td (AB A) Tj ET"),
        "32 /space 65 /eacute 66 /bullet"),
      "makeType3Pdf(unlisted)" -> Pdf.makeType3Pdf(Seq("BT /F1 12 Tf (Ax) Tj ET"), "65 /eacute"),
      "makeType3Pdf(tou)" -> Pdf.makeType3Pdf(Seq("BT /F1 12 Tf (A) Tj ET"),
        "65 /eacute", withToUnicode = true),
      "makeDiffPdf(flate)" -> Pdf.makeDiffPdf(Seq("BT /F1 12 Tf 72 720 Td (AB a) Tj ET"),
        "65 /eacute /bullet 97 /A", flate = true),
      "makeDiffPdf" -> Pdf.makeDiffPdf(Seq("BT /F1 12 Tf 72 720 Td (AB) Tj ET"),
        "65 /uniFB01 /u1D11E"),
      "makeDiffPdf(unknown)" -> Pdf.makeDiffPdf(Seq("BT /F1 12 Tf 72 720 Td (Ax) Tj ET"),
        "65 /gl0042"),
      "makeFilteredTextPdf(ahx)" -> filtered("ASCIIHexDecode"),
      "makeFilteredTextPdf(a85)" -> filtered("ASCII85Decode"),
      "makeFilteredTextPdf(rle)" -> filtered("RunLengthDecode"),
      "makeFilteredTextPdf(lzw)" -> filtered("LZWDecode"),
      "makeFilteredTextPdf(a85,flate)" -> filtered("ASCII85Decode", "FlateDecode"),
      "makeFilteredTextPdf(ahx,lzw)" -> filtered("ASCIIHexDecode", "LZWDecode"),
      "makeImagePdf(rgb,gray)" -> Pdf.makeImagePdf(Seq(
        Seq(("rgb", 8, 6), ("gray", 5, 4)), Seq(("dct", 8, 8)))),
      "makeImagePdf(ccitt,cmyk)" -> Pdf.makeImagePdf(Seq(Seq(("ccitt", 4, 4), ("cmyk", 4, 4)))),
      "encrypt(rc4)" -> PdfCrypt.encrypt(Pdf.makePdf(4, withContent = true)),
      "encrypt(aes128)" -> PdfCrypt.encrypt(Pdf.makePdf(2, withContent = true), aes128 = true),
      "encrypt(user pw)" -> PdfCrypt.encrypt(Pdf.makePdf(3), userPw = "secret"),
      "encrypt(owner pw)" -> PdfCrypt.encrypt(Pdf.makePdf(5), ownerPw = "secret"),
      "encrypt(wrong pw)" -> PdfCrypt.encrypt(Pdf.makePdf(2), userPw = "other"),
      "encryptV5(user pw)" -> PdfCrypt.encryptV5(Pdf.makePdf(2, withContent = true),
        ownerPw = "boss", userPw = "secret"),
      "encryptV5(owner pw)" -> PdfCrypt.encryptV5(Pdf.makePdf(6), ownerPw = "secret",
        userPw = "pw2"))
  }

  /** Digests recorded from the writers before their shared-layout
    * refactor. */
  private val pinned: Map[String, String] = Map(
    "makePdf(1)" -> "696c6662734ed7d233641be53371a5f533c3efc7ae5e26b1624f6c4fb51918f0",
    "makePdf(2)" -> "e6dd5e3d3b5bf4c55dd11357423d1db0d7cfcfead4ed9da50b4a0cfa16bf1ee4",
    "makePdf(3)" -> "02bb1db9269edeedcb26129edb3190a8b8df31fde2ba513a8216ca8c451526be",
    "makePdf(4)" -> "a55e5a052464d8e770962162fef57216d48f56430aee88f9977d2c6ddabbf3fc",
    "makePdf(2,content)" -> "d7c9f4da49ffd0894ec5f699e78dd024b0b3c959dadd15e177a83e9fec6352cb",
    "makePdf(5,content,xref)" -> "a0bf49271562bfa82042847cb91017da6ffda778e97320b491a7e31a067b7658",
    "makePdf(3,xref)" -> "44e1cd54affe057bf62065fca0cc09b6b602f64cf164f16226afb4aea0964b5b",
    "merge(3,4)" -> "132e3ccb12b1c430aea75c15e285d84df3009845902f083a62323624336ff7f5",
    "extractPages(merge(3,4),2,5,7)" -> "2fac0551f7a2fa2c2a392063107c64bf2cb56904f6a46c92f79810f30a724323",
    "extractPages(modern,2,4)" -> "a47ada095f29f7eed3f7db3a0319b672a51ee7bf98de7dfdeb5deac2e93bbc92",
    "merge(modern,part)" -> "6e19b40bfa9b8098e875328cc42407ec7761d0d5263148f17714243ba3dfb814",
    "merge(2,1)" -> "c22747b54b538befa90363f9d0665b60aa96854d834a1351699678a6eb0ea957",
    "makeTextPdf(rich,flate)" -> "c4165ef0b4d9dfd20e009dd05d81b7b1ac24e647e535912c503408ea590ed084",
    "makeTextPdf(x,flate)" -> "9540698f66ea364503b8485fc7d204f084aa9303de4faecdd1af6063ea618111",
    "makeTextPdf(2 pages)" -> "e252f2f03ce7d54db319b8e6789c4f23d2fc80f03392d4fecca1384596eda4c5",
    "makeTextPdf(ok)" -> "c247a7840f2ba06a4a0b9faeeaaa9ddfa7dd847145d20b54e6d568dad9ada41c",
    "makeTextPdf(corpus,flate)" -> "5b36a7fe64a425330b0d66088fa9c03979bc85c344604a81049fb71e1d1473be",
    "makeTextPdf(1,xref)" -> "c5fd778c958e089c716d0be78ab849afdf60b5dcd73373f924f94624ac2f8d5c",
    "makeCidPdf(cid,flate)" -> "fb24995a68a292920e5f80c484a36d7e4b2664b1338f85f7f208fc77de7f6cc2",
    "makeCidPdf(nomap)" -> "7ae6f1b12c5e2d7e7e28c8a855a85e6422f77013ce2f84c3ed4cc5eeab2ed504",
    "makeCidPdf(UniKS)" -> "4500d17ca412110622f471777904def97af57ee301c3d2aa570041a1e8b1d03f",
    "makeCidPdf(UniJIS,flate)" -> "c772be13e2f74180d7db9a4c48591660b9e0099b17da4efbf94b44b9b33b1c4d",
    "makeCidPdf(Identity-V)" -> "a00481d87f7e98f51f295f0e944a4eae76e20d208a60d06009ad378623c8cbed",
    "makeCidPdf(Identity-V,nomap)" -> "2921f384bc8373213f6195b0fae8a7cf84b630287b04bf5fa6df752fc8c12896",
    "makeCidPdf(embedded)" -> "16fc9f203bdef05e13a3646a956d8757b26390f2744fccc754417c340be99292",
    "makeCidPdf(embedded,flate)" -> "f10a214f2329e683eca6162dab4a18e84c14af5273f3206a46c2d39c5460baa3",
    "makeCidPdf(embedded,range)" -> "3cc870e746d0ae985d8b297ea6ad35df0739102615266e5128cd2d190cbcc6fd",
    "makeCidPdf(embedded,identity)" -> "53fe319cff45bf124d4f695b06324046034a3e8c2f73755f5ece3f6cc44b7d11",
    "makeType3Pdf(named)" -> "d09689b98eb671f4f395a46f3dff27bd7c183326037e75c6f28f907ede7bc872",
    "makeType3Pdf(unlisted)" -> "b7896c397d9283e6b8e04fd7680b6dcadda978995ce7213c2915d8d948629b7f",
    "makeType3Pdf(tou)" -> "994b9a6f52f823d7085dc5fddcad6829c8adb76a5b5e84d3666106efcf5ee714",
    "makeDiffPdf(flate)" -> "c93f83ffca7c8aee074ecda3461d8a25b2395608c7c91fd2a76b72760670d66e",
    "makeDiffPdf" -> "565535d1e9dfabd51373ad7ece49fcca98db5d9346e9cb39a91112ac0a463ea2",
    "makeDiffPdf(unknown)" -> "dc87effb8ac084b09dd8c990e449e5dab75c6889bdb3c82f4d678b6886a1ee6f",
    "makeFilteredTextPdf(ahx)" -> "6b600ceca0b4184155103a915cb63f8c58f9c2ecde339e92710c3374bfa6a5b5",
    "makeFilteredTextPdf(a85)" -> "5499f189c4280d313fe47d172f01ff870c2f38579c58290162454e38b9c8c23b",
    "makeFilteredTextPdf(rle)" -> "f17135de70016211026dfddc9e3563bdda4b01065ccad5ead3f1973adc012704",
    "makeFilteredTextPdf(lzw)" -> "0409baf6825e5f74365fc0bf88ef704bf1e4079a88f2d40d43c4704d25d60897",
    "makeFilteredTextPdf(a85,flate)" -> "f24557114808014de9c95660728e313e1ad53d8e6c2e8e0dd54f4d52612406a4",
    "makeFilteredTextPdf(ahx,lzw)" -> "51bbb4a87af46d790a373a13a83ff66116639cc408407aef663850bc61596afb",
    "makeImagePdf(rgb,gray)" -> "6f586527dbe0afabf8041410bb8dcf2f260892380030dd21a88fe7a860e2702b",
    "makeImagePdf(ccitt,cmyk)" -> "0b274fa1b7ab3613f04e2d672d66bf3a9d7ca7a2cfe795345715bfb5c00a4206",
    "encrypt(rc4)" -> "edd97cfd2edf72403de2c6223623f562f1ee64741d6a7691691db068ce0250b0",
    "encrypt(aes128)" -> "03460ee1e0a81815e72e947563e24f6dc325a6d5970bd53b6a509de12c437f2c",
    "encrypt(user pw)" -> "5d00a83766be74ba250aa996a7c318b8f91c76f464942c786ea8b5ca2c2774c4",
    "encrypt(owner pw)" -> "73208fc08f3f7d95f8212e0eff254f2da40f81155b2963d216c466f6ba31cc8b",
    "encrypt(wrong pw)" -> "31e80d6802f64ae9e6c0604eb3d9804bea72ca106a964acd70dd6eddfd28c588",
    "encryptV5(user pw)" -> "8c560310544215488b3b87177cf33cfdb2ce5d9c427ebae1af3dd314ad1c29ba",
    "encryptV5(owner pw)" -> "6278de15701a46a287f1513f59c3ce060ac585f1861e8eea9f0ce82a81910755")

  test("every PDF writer call shape is byte-identical to its pinned digest") {
    val got = shapes.map { case (k, b) => k -> sha256(b) }
    assert(got.map(_._1).distinct.size == got.size)
    val diffs = got.filter { case (k, h) => !pinned.get(k).contains(h) }
    assert(diffs.isEmpty, diffs.map { case (k, h) => s"\"$k\" -> \"$h\"," }.mkString("\n", "\n", ""))
  }
}

package graft.kernel

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Deterministic synthetic Page-table corpus (FIXTURES.md §1–§3).
  *
  * Every row is a pure function of (seed, idx): generation happens inside
  * `spark.range(n).mapPartitions` on executors, so the corpus scales without
  * driver materialization and is byte-identical across runs, partitionings
  * and parallelism levels — which is what lets the goldens and the
  * parallel≡sequential determinism tests hold.
  *
  * Row mix per 10 indices: 6 html articles (boilerplate + labeled content),
  * 1 html link-farm, 1 PDF text doc (half as GENUINE %PDF-1.4 bytes with
  * Flate streams, half as the structured payload), 1 PDF-like scanned doc,
  * 1 junk / edge row. Host distribution is intentionally skewed (~30% of
  * rows on one hot host) to exercise skew handling.
  */
object Synth {

  val Epoch: Long = 1735689600000L // 2025-01-01T00:00:00Z, fixed (no Date.now)

  private val stopwords = Array(
    "the", "and", "or", "is", "are", "was", "were", "to", "of", "in", "for",
    "with", "that", "this", "have", "has", "had", "will", "would", "could",
    "should", "not", "but", "from", "they", "we")
  private val contentWords = Array(
    "court", "case", "law", "order", "appeal", "petition", "plaintiff",
    "defendant", "document", "analysis", "pipeline", "extraction", "page",
    "signal", "record", "margin", "filing", "motion", "ruling", "statute",
    "evidence", "witness", "contract", "clause", "section", "paragraph",
    "annex", "schedule", "exhibit", "judgment")
  private val navWords = Array(
    "Home", "About", "Contact", "Login", "Register", "Archive", "Tags",
    "Search", "Privacy", "Terms", "Sitemap", "RSS")

  private def rngFor(seed: Long, idx: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + idx * 0xC2B2AE3D27D4EB4FL)

  // ------------------------------------------------------------------ prose

  /** One sentence: capitalized, stopword-rich, 8–14 words, period-ended. */
  def sentence(rng: SplittableRandom): String = {
    val n = 8 + rng.nextInt(7)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      val w =
        if (rng.nextInt(10) < 4) stopwords(rng.nextInt(stopwords.length))
        else contentWords(rng.nextInt(contentWords.length))
      val word = if (i == 0) w.capitalize else w
      if (i > 0) sb.append(' ')
      sb.append(word)
      i += 1
    }
    sb.append('.')
    sb.toString
  }

  def paragraph(rng: SplittableRandom, sentences: Int): String =
    (0 until sentences).map(_ => sentence(rng)).mkString(" ")

  /** Prose wrapped at ~70 chars/line (consistent line lengths → the CV
    * bonus of F5 term 5 fires, matching a well-extracted PDF text layer). */
  def wrappedProse(rng: SplittableRandom, sentences: Int): String = {
    val words = paragraph(rng, sentences).split(' ')
    val sb = new StringBuilder
    var lineLen = 0
    words.foreach { w =>
      if (lineLen > 0 && lineLen + 1 + w.length > 70) { sb.append('\n'); lineLen = 0 }
      else if (lineLen > 0) { sb.append(' '); lineLen += 1 }
      sb.append(w); lineLen += w.length
    }
    sb.toString
  }

  // ------------------------------------------------------------------- html

  /** Boilerplate-framed article. Content paragraphs are long text runs with
    * no anchors; nav/header/footer/sidebar are short link-dense blocks. */
  def htmlArticle(rng: SplittableRandom, idx: Long, paras: Int): String = {
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html>\n<html>\n<head>\n")
    sb.append(s"<title>Synthetic Document $idx</title>\n")
    sb.append("<style>body { margin: 0; }</style>\n")
    sb.append("<script>var tracker = 'should never appear';</script>\n")
    sb.append("</head>\n<body>\n<header>\n<h1>Example Site</h1>\n<nav><ul>\n")
    (0 until 6).foreach { i =>
      // modulo on Long BEFORE narrowing: idx.toInt goes negative past 2^31
      // rows and a negative index would kill corpus generation at scale
      val nav = navWords(((i + idx) % navWords.length).toInt)
      sb.append(s"""<li><a href="/${navWords(i % navWords.length).toLowerCase}">$nav</a></li>\n""")
    }
    sb.append("</ul></nav>\n</header>\n<div class=\"layout\">\n<aside>\n<ul>\n")
    (0 until 5).foreach { i =>
      sb.append(s"""<li><a href="/tag/$i">tag $i related link</a></li>\n""")
    }
    sb.append("</ul>\n</aside>\n<main>\n<article>\n")
    sb.append(s"<h2>${paragraph(rng, 1).dropRight(1)}</h2>\n")
    (0 until paras).foreach { _ =>
      sb.append(s"<p>${paragraph(rng, 3 + rng.nextInt(4))}</p>\n")
    }
    if (rng.nextInt(4) == 0)
      sb.append("<p>Read <a href=\"/more\">more on this topic</a> in the full report " +
        s"${paragraph(rng, 2)}</p>\n")
    sb.append("</article>\n</main>\n</div>\n<footer>\n<p>")
    sb.append((0 until 4).map(i => s"""<a href="/f$i">${navWords(i)}</a>""").mkString(" | "))
    sb.append("</p>\n<p>&copy; 2025 Example Site</p>\n</footer>\n</body>\n</html>\n")
    sb.toString
  }

  /** Link farm: almost all anchor text → extractor should yield ~nothing. */
  def htmlLinkFarm(rng: SplittableRandom, idx: Long): String = {
    val sb = new StringBuilder
    sb.append(s"<html><head><title>Links $idx</title></head><body><div>\n")
    (0 until 40).foreach { i =>
      sb.append(s"""<a href="/p/$i">${contentWords(rng.nextInt(contentWords.length))} link $i</a><br>\n""")
    }
    sb.append("</div></body></html>\n")
    sb.toString
  }

  // -------------------------------------------------------------------- pdf

  /** Fully scanned doc: per page a <10-char text layer + one full-page
    * image → SCANNED on every page → status "true", pages [1..n]. */
  def pdfScanned(rng: SplittableRandom, nPages: Int): PdfDoc = {
    val pages = Vector.tabulate(nPages) { i =>
      val img = PdfImage(
        pixelWidth = 1700, pixelHeight = 2200,
        rects = Vector(PdfRect(0, 0, 612, 792)),
        data = s"SCAN-$i".getBytes(StandardCharsets.US_ASCII))
      PdfPage(612, 792, if (i % 3 == 0) "" else "p.", None, Vector(img))
    }
    PdfDoc(pages)
  }

  /** Native-text doc mixing two golden cells: long pages (>500 chars, fast
    * path, confidence 0.8) and medium pages (250–450 chars, escalated to
    * full analysis, confidence ≈0.95) → "false" at threshold 0.5, "partial"
    * at 0.9 — the reference's 433687b4 behavior (test_ocr_scenarios.py:84-91).
    */
  def pdfText(rng: SplittableRandom, nPages: Int): PdfDoc = {
    val pages = Vector.tabulate(nPages) { i =>
      val long = i % 2 == 0
      var text = wrappedProse(rng, if (long) 10 + rng.nextInt(6) else 4)
      if (long) { while (text.length <= 500) text = text + "\n" + wrappedProse(rng, 3) }
      else {
        while (text.length <= 250) text = text + "\n" + wrappedProse(rng, 1)
        if (text.length > 450) text = text.substring(0, 450)
      }
      PdfPage(612, 792, text, None, Vector.empty)
    }
    PdfDoc(pages)
  }

  /** Mixed doc: text, scanned, text+images (→ MIXED page type at full
    * analysis) and empty pages → "partial" status and all four PageTypes. */
  def pdfMixed(rng: SplittableRandom, nPages: Int): PdfDoc = {
    val text = pdfText(rng, nPages)
    val scan = pdfScanned(rng, nPages)
    val pages = Vector.tabulate(nPages) { i =>
      i % 4 match {
        case 0 => text.pages(i)
        case 1 => scan.pages(i)
        case 2 => // 250–450 chars of quality prose + 3 content images → the
          // fast path yields MIXED at 0.7, escalates, and full analysis
          // lands in the >2-content-images MIXED branch. The medium page
          // (odd index in pdfText) is required: a >500-char page would be
          // fast-accepted as TEXT before the image check (_detector.py:475).
          val imgs = Vector.tabulate(3) { k =>
            PdfImage(400, 300,
              Vector(PdfRect(50 + k * 150, 100, 150 + k * 150, 250)),
              s"FIG-$k".getBytes("US-ASCII"))
          }
          text.pages(i - 1).copy(images = imgs)
        case _ => PdfPage(612, 792, "", None, Vector.empty) // empty page
      }
    }
    PdfDoc(pages)
  }

  // -------------------------------------------------------------- page rows

  final case class Row(
      url: String, warcTsMillis: Long, html: Array[Byte], text: String, lang: String)

  /** The pure (seed, idx) → row function. */
  def row(seed: Long, idx: Long): Row = {
    val rng = rngFor(seed, idx)
    val host =
      if (rng.nextInt(10) < 3) "hot-host-0" // intentional skew
      else s"host-${rng.nextInt(500)}"
    val url = s"https://$host.example/doc/$idx"
    val ts = Epoch + idx * 1000L
    val lang =
      if (idx % 13 == 0) "de" else if (idx % 17 == 0) "fr" else "en"

    val kind = idx % 10
    val (bytes, naive) = kind match {
      case 6 =>
        val h = htmlLinkFarm(rng, idx)
        (h.getBytes(StandardCharsets.UTF_8), "")
      case 7 =>
        val d = pdfText(rng, 12 + rng.nextInt(13))
        // most native-text docs ship as GENUINE %PDF bytes — split between
        // classic 1.4 layout (Flate content streams, xref table), 1.5-style
        // layout (page dicts inside a compressed /ObjStm, binary /XRef
        // stream), and owner-locked ENCRYPTED 1.4 (Standard handler, empty
        // user password — RC4-128, the common restricted-permissions PDF):
        // all real parse paths run at corpus scale with byte-identical text
        // layers, so classification outputs are unchanged regardless of
        // layout or encryption
        val bytes = rng.nextInt(4) match {
          // half the classic-layout docs carry an Identity-H Type0 font
          // with NO ToUnicode (hex show strings of 2-byte Unicode CIDs) —
          // the CID layout decodeIdentityCid rescues; keyed off idx/10
          // (kind-7 rows all have idx ≡ 7 mod 10, so idx itself is always
          // odd), not an rng draw, so every oracle-checked value is
          // unchanged. The text layer is byte-identical either way.
          case 0 => PdfParse.writePdf(d.pages.map(_.textLayer.split("\n").toSeq),
            cidFont = (idx / 10) % 2 == 0,
            // two thirds of the CID docs carry a predefined CMap instead
            // of Identity-H: the Unicode family (UCS2/UTF16 — exact
            // UTF-16BE decode) and the byte-oriented LEGACY family
            // (90ms-RKSJ/GBK-EUC — exact JDK-charset decode), so every
            // CMap path runs at corpus scale. Keyed off idx/10 like the
            // cidFont split, no rng draw; the text layer is
            // byte-identical under all names (ASCII prose encodes the
            // same bytes→text under each decode)
            cidEncoding = (idx / 10) % 12 match {
              case 0 => "UniJIS-UCS2-H"
              case 4 => "UniGB-UTF16-H"
              case 2 => "90ms-RKSJ-H"
              case 8 => "GBK-EUC-H"
              case _ => "Identity-H"
            })
          case 1 => PdfParse.writePdfObjStm(d.pages.map(_.textLayer.split("\n").toSeq))
          case 2 => PdfParse.writePdf(d.pages.map(_.textLayer.split("\n").toSeq),
            // alternate the two owner-locked handlers (RC4-128 R3 and
            // AES-256 R6) so BOTH decrypt paths run at corpus scale;
            // keyed off idx/10 (kind-7 idx is always odd — a plain idx%2
            // silently pinned this to AES-256 only), not an rng draw, to
            // keep the draw sequence (and thus every oracle-checked
            // value) unchanged
            encrypt = Some(
              if ((idx / 10) % 2 == 0) PdfCrypt.Rc4Owner else PdfCrypt.Aes256Owner))
          case _ => PdfPayload.serialize(d)
        }
        (bytes, d.pages.head.textLayer.take(120))
      case 8 =>
        val d = pdfScanned(rng, 5 + rng.nextInt(8))
        (PdfPayload.serialize(d), "")
      case 9 =>
        rng.nextInt(5) match {
          case 0 => (null: Array[Byte], "") // missing payload → error row
          case 1 => (Array.empty[Byte], "") // empty payload → error row
          case 2 => // truncated pdf payload → kernel error fallback
            val d = PdfPayload.serialize(pdfMixed(rng, 6))
            (d.take(d.length / 2), "")
          case 3 => // USER-password-locked real PDF (genuine RC4 encryption,
            // non-empty user password — undecryptable without it) →
            // distinct error row naming encryption (X4 contract,
            // PdfEncryptedException); owner-locked files land in kind 7
            // and EXTRACT instead
            val d = pdfText(rng, 4)
            (PdfParse.writePdf(d.pages.map(_.textLayer.split("\n").toSeq),
              encrypt = Some(PdfCrypt.UserLocked)), "")
          case _ =>
            val d = pdfMixed(rng, 6 + rng.nextInt(6))
            (PdfPayload.serialize(d), "")
        }
      case _ =>
        val h = htmlArticle(rng, idx, 3 + rng.nextInt(7))
        (h.getBytes(StandardCharsets.UTF_8), s"Synthetic Document $idx")
    }
    Row(url, ts, bytes, naive, lang)
  }
}

package perfbench

import graft.extract.{ExtractResult, Extractor}
import graft.parser.{HtmlNode, HtmlParser, Lexer}
import perfbench.Corpus.stripBom

/** Workload `parse_pages`: single-threaded, no Spark. A round times
  * `HtmlParser.parseWithStats` over every document of the seeded corpus,
  * then `Extractor.extract` over every document, then attempts both on
  * each deep page. The deep pages overflow the default thread stack
  * (recursive tree build and extraction walk); each StackOverflowError
  * is a failed operation, and their time stays out of every rate.
  *
  * The traced run adds, per round, a pass over `Lexer.rawSplitArrays`
  * and one over `HtmlNode.fromRaw`, and reads the thread's allocation
  * counter around the parse and extract passes.
  */
object ParsePages {
  private val Mb = 1e6
  private val SmallBytes = 4096
  private val LargeBytes = 256 * 1024
  private val WarmPasses = 4

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated: Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** Per-document seconds of one pass of `f`. */
  private def pass(docs: IndexedSeq[Doc])(f: String => Any): Array[Double] = {
    val out = new Array[Double](docs.length)
    var i = 0
    while (i < docs.length) {
      val t0 = System.nanoTime()
      f(docs(i).html)
      out(i) = (System.nanoTime() - t0) / 1e9
      i += 1
    }
    out
  }

  /** Per-document seconds of `HtmlNode.fromRaw` over the document's
    * tokens; the lexing before it is not timed.
    */
  private def classifyPass(docs: IndexedSeq[Doc]): Array[Double] = {
    val out = new Array[Double](docs.length)
    var i = 0
    while (i < docs.length) {
      val (toks, _, n) = lexed(docs(i).html)
      val t0 = System.nanoTime()
      var k = 0
      while (k < n) { HtmlNode.fromRaw(toks(k)); k += 1 }
      out(i) = (System.nanoTime() - t0) / 1e9
      i += 1
    }
    out
  }

  def run(o: Opts): Result = {
    val r = new Result
    r.info("main_s") = Stats.jvmUptimeS.toString
    val docs = Corpus.generate(o.seed).toIndexedSeq
    r.info("corpus_s") = Stats.jvmUptimeS.toString
    val deep = Corpus.deepPages
    val bytes = docs.map(_.bytes.toLong).sum.toDouble
    val small = docs.indices.filter(docs(_).bytes < SmallBytes)
    val large = docs.indices.filter(docs(_).bytes >= LargeBytes)
    val (turns, web) = docs.indices.partition(docs(_).isTurn)

    def deepRound(): Unit = deep.foreach { page =>
      Seq[String => Any](HtmlParser.parseWithStats(_), Extractor.extract(_)).foreach { f =>
        r.attempted += 1
        try f(page) catch { case _: StackOverflowError => r.failed += 1 }
      }
    }

    // warm-up, uncounted: the JIT settles after about four passes of each
    // call over this corpus; then the deep pages once
    (0 until WarmPasses).foreach { _ =>
      pass(docs)(HtmlParser.parseWithStats(_)); pass(docs)(Extractor.extract(_))
    }
    deep.foreach { p =>
      try Extractor.extract(p) catch { case _: StackOverflowError => () }
      try HtmlParser.parseWithStats(p) catch { case _: StackOverflowError => () }
    }
    val setupS = Stats.jvmUptimeS

    val parseT, extractT, lexT, classifyT = collection.mutable.ArrayBuffer[Array[Double]]()
    val parseAlloc, extractAlloc = collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (parseT.isEmpty || Stats.secondsSince(t0) < o.seconds) {
      val a0 = allocated
      parseT += pass(docs)(HtmlParser.parseWithStats(_))
      val a1 = allocated
      extractT += pass(docs)(Extractor.extract(_))
      val a2 = allocated
      r.attempted += 2L * docs.length
      deepRound()
      if (o.trace) {
        parseAlloc += (a1 - a0) / bytes
        extractAlloc += (a2 - a1) / bytes
        lexT += pass(docs)(h => Lexer.rawSplitArrays(stripBom(h)))
        classifyT += classifyPass(docs)
      }
    }
    r.info("rounds") = parseT.length.toString
    r.info("parse_s") = parseT.map(t => f"${t.sum}%.4f").mkString(",")
    r.info("extract_s") = extractT.map(t => f"${t.sum}%.4f").mkString(",")

    // Every time below is the sum over documents of each document's
    // fastest time over the rounds. On a shared host a single thread runs
    // at one of two speeds that switch every few seconds: the median round
    // drifts by 25-45% between runs, and even the fastest whole round by
    // up to 23%.
    def fastest(ts: collection.Seq[Array[Double]]): Array[Double] =
      docs.indices.map(i => ts.map(_(i)).min).toArray
    def rate(t: Array[Double], idx: Seq[Int]): Double =
      idx.map(docs(_).bytes.toLong).sum / Mb / idx.map(t(_)).sum
    val (parseMin, extractMin) = (fastest(parseT), fastest(extractT))
    r.endToEnd("setup_s") = setupS
    r.endToEnd("op_s") = parseMin.sum + extractMin.sum
    r.info("fastest_round_s") =
      parseT.zip(extractT).map { case (p, e) => p.sum + e.sum }.min.toString
    r.perLayer("parse_mb_per_s") = rate(parseMin, docs.indices)
    r.perLayer("extract_mb_per_s") = rate(extractMin, docs.indices)
    if (o.trace) {
      val (lexMin, classifyMin) = (fastest(lexT), fastest(classifyT))
      r.perLayer("lexer.mb_per_s") = rate(lexMin, docs.indices)
      r.perLayer("classify_s") = classifyMin.sum
      r.perLayer("tree_s") = parseMin.sum - lexMin.sum - classifyMin.sum
      r.perLayer("parse.alloc_bytes_per_byte") = Stats.median(parseAlloc.toSeq)
      r.perLayer("parse_small.mb_per_s") = rate(parseMin, small)
      r.perLayer("parse_large.mb_per_s") = rate(parseMin, large)
      r.perLayer("parse_turns.mb_per_s") = rate(parseMin, turns)
      r.perLayer("parse_web.mb_per_s") = rate(parseMin, web)
      r.perLayer("extract_turns.mb_per_s") = rate(extractMin, turns)
      r.perLayer("extract_web.mb_per_s") = rate(extractMin, web)
      r.perLayer("extract_walk_s") = extractMin.sum - parseMin.sum
      r.perLayer("extract.alloc_bytes_per_byte") = Stats.median(extractAlloc.toSeq)
      val parsed = docs.map(d => HtmlParser.parseWithStats(d.html)._2)
      r.perLayer("docs") = docs.length
      r.perLayer("tokens") = parsed.map(_.nTokens.toLong).sum.toDouble
      r.perLayer("nodes") = parsed.map(_.nNodes.toLong).sum.toDouble
      r.perLayer("bytes") = bytes
    }
    r.info("docs") = docs.length.toString
    r.info("small_docs") = small.length.toString
    r.info("large_docs") = large.length.toString
    r.info("mb") = (bytes / Mb).toString
    r.info("kinds") = docs.groupBy(_.kind).map { case (k, v) =>
      s"$k:${v.length}:${v.map(_.bytes.toLong).sum}" }.mkString(",")

    docs.foreach(d => Checks.document(r, d, lexed(d.html), Extractor.extract(d.html)))
    deep.foreach(p => r.check("deep.tokens", Checks.tokensLossless(p, lexed(p)).isEmpty,
      "deep page tokens lossy"))
    r
  }

  def lexed(html: String): (Array[String], Array[Int], Int) = Lexer.rawSplitArrays(stripBom(html))

  /** Feeds each checker an output corrupted on purpose; every checker
    * must report it.
    */
  def selfTest(o: Opts): Result = {
    val r = new Result
    val docs = Corpus.generate(o.seed)
    val tmpl = docs.find(_.kind == "template").get
    val web = docs.find(_.kind == "web").get
    def fails(d: Doc, lex: (Array[String], Array[Int], Int), ex: ExtractResult): Boolean = {
      val probe = new Result
      Checks.document(probe, d, lex, ex)
      probe.checks.values.exists(_.nonEmpty)
    }
    val good = Extractor.extract(tmpl.html)
    r.check("selftest.clean_passes", !fails(tmpl, lexed(tmpl.html), good), "clean output rejected")
    r.check("selftest.changed_text",
      fails(tmpl, lexed(tmpl.html), good.copy(text = good.text.replace("order", "ordre"))),
      "changed text accepted")
    val (toks, offs, n) = lexed(web.html)
    r.check("selftest.dropped_token",
      fails(web, (toks.patch(3, Nil, 1), offs.patch(3, Nil, 1), n - 1), Extractor.extract(web.html)),
      "dropped token accepted")
    val wex = Extractor.extract(web.html)
    r.check("selftest.dropped_planted",
      fails(web, lexed(web.html), wex.copy(text = wex.text.replace(web.mustHave.head, ""))),
      "missing planted sentence accepted")
    r.check("selftest.shifted_span",
      fails(tmpl, lexed(tmpl.html), good.copy(spans = good.spans.map(s => s.copy(end = s.end + 40)))),
      "bad span accepted")
    r
  }
}

/** Output checks of `parse_pages`, computed apart from the program. */
object Checks {
  private def isWs(c: Char): Boolean = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 11
  def strip(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && isWs(s.charAt(a))) a += 1
    while (b > a && isWs(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }

  /** Tokens concatenate to the (BOM-stripped) input and each offset is
    * where its token starts. Empty when that holds, else why not.
    */
  def tokensLossless(html: String, lex: (Array[String], Array[Int], Int)): String = {
    val src = stripBom(html)
    val (toks, offs, n) = lex
    var pos = 0; var i = 0
    while (i < n) {
      if (offs(i) != pos) return s"token $i at ${offs(i)}, expected $pos"
      if (toks(i).isEmpty || !src.startsWith(toks(i), pos)) return s"token $i differs from input at $pos"
      pos += toks(i).length; i += 1
    }
    if (pos != src.length) s"tokens cover $pos of ${src.length} chars" else ""
  }

  /** Every span lies in the input, its stripped text is non-empty and
    * occurs in the extracted text, and spans increase without overlap.
    */
  def spans(html: String, ex: ExtractResult): String = {
    val src = stripBom(html)
    var prevEnd = 0
    ex.spans.foreach { s =>
      if (s.start < prevEnd || s.end <= s.start || s.end > src.length)
        return s"span [${s.start},${s.end}) out of order or bounds"
      val t = strip(src.substring(s.start, s.end))
      if (t.isEmpty || !ex.text.contains(t)) return s"span [${s.start},${s.end}) text not in extraction"
      prevEnd = s.end
    }
    ""
  }

  def document(r: Result, d: Doc, lex: (Array[String], Array[Int], Int), ex: ExtractResult): Unit = {
    val tok = tokensLossless(d.html, lex)
    r.check(s"${d.kind}.tokens", tok.isEmpty, tok)
    val sp = spans(d.html, ex)
    r.check(s"${d.kind}.spans", sp.isEmpty, sp)
    d.expected.foreach(e => r.check(s"${d.kind}.text", ex.text == e,
      s"text differs: ${ex.text.take(80)} vs ${e.take(80)}"))
    d.mustHave.foreach(m => r.check(s"${d.kind}.planted", ex.text.contains(m), s"$m missing"))
    d.mustNotHave.foreach(m => r.check(s"${d.kind}.boilerplate", !ex.text.contains(m), s"$m kept"))
  }
}

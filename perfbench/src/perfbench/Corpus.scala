package perfbench

import scala.util.Random

/** One document of the `parse_pages` corpus, with what its extraction
  * must and must not contain.
  *  - `expected`: the exact extracted text, when the generator knows it;
  *  - `mustHave` / `mustNotHave`: planted main-content markers and
  *    boilerplate markers.
  */
final case class Doc(kind: String, html: String, expected: Option[String],
                     mustHave: Seq[String], mustNotHave: Seq[String]) {
  def bytes: Int = html.length
  def isTurn: Boolean = kind == "chat" || kind == "template"
}

/** Seeded corpus for `parse_pages`: plain chat turns, template-sized
  * turns and tag-soup web pages with long-tailed sizes, plus the
  * seed-independent deep pages.
  */
object Corpus {
  /** Turns and web pages each carry about half of the characters, and
    * chat and template turns a quarter each, so `op_s` is not mostly a
    * tag-soup figure. The mix is a choice, not a measured traffic: the
    * repository's own input is template turns only.
    */
  val NChat = 10000
  val NTemplate = 6000
  /** Web page sizes in chars, the same for every seed: the (i + 0.5)/60
    * quantiles of a lognormal with median 24,000 and sigma 1.85, capped
    * at 2,000,000. The shape is assumed, not fitted to measured pages.
    */
  val WebSizes: IndexedSeq[Int] = IndexedSeq(
    286, 638, 974, 1317, 1673, 2047, 2441, 2857, 3297, 3764,
    4259, 4784, 5341, 5933, 6561, 7230, 7942, 8699, 9506, 10366,
    11284, 12263, 13310, 14430, 15629, 16914, 18294, 19776, 21371, 23090,
    24945, 26952, 29125, 31485, 34053, 36853, 39915, 43273, 46967, 51044,
    55562, 60589, 66209, 72523, 79659, 87778, 97083, 107840, 120401, 135239,
    153012, 174661, 201582, 235949, 281348, 344187, 437271, 590891, 901434, 2000000)
  val Boilerplate = Seq("NAVBOILER", "FOOTBOILER", "SCRIPTBOILER")

  /** Nested `<div>` depths of the deep pages. On a 1 MiB thread stack
    * (the JVM default) a warm JVM parses about 10,700 levels and
    * extracts about 7,900 before the recursion overflows, a cold one
    * fewer; these depths overflow both calls in every JIT state.
    */
  val DeepDepths: Seq[Int] = Seq(30000, 60000)

  /** The input without a leading byte-order mark, as the parser reads it. */
  def stripBom(t: String): String =
    if (t.length > 1 && t.charAt(0) == '\uFEFF') t.substring(1) else t

  def deepPages: Seq[String] = DeepDepths.map { d =>
    "<div>" * d + "<p>deep page content sentence</p>" + "</div>" * d
  }

  private val Words = IndexedSeq(
    "the", "model", "parser", "returns", "a", "tree", "of", "nodes", "and",
    "every", "turn", "is", "kept", "in", "order", "with", "its", "spans",
    "data", "corpus", "pipeline", "stage", "token", "page", "block", "text",
    "léger", "naïve", "straße", "日本語", "данные", "表", "😀", "𝄞", "𠀋")

  private def words(rnd: Random, lo: Int, hi: Int): String =
    Seq.fill(lo + rnd.nextInt(hi - lo + 1))(Words(rnd.nextInt(Words.length))).mkString(" ")

  def generate(seed: Long): Seq[Doc] = {
    val rnd = new Random(seed)
    val chat = (0 until NChat).map { _ =>
      val t = words(rnd, 8, 120)
      Doc("chat", t, Some(t), Nil, Nil)
    }
    val template = (0 until NTemplate).map(i => templateTurn(rnd, i))
    val web = WebSizes.zipWithIndex.map { case (n, i) => webPage(rnd, i, n) }
    rnd.shuffle(chat ++ template ++ web)
  }

  /** The transcripts template (Transcripts.textSqlExpr) with random
    * fields; its extraction is known exactly.
    */
  private def templateTurn(rnd: Random, idx: Int): Doc = {
    val d = words(rnd, 10, 70)
    val (okey, lnum) = (rnd.nextInt(600000).toString, (1 + rnd.nextInt(7)).toString)
    val facts = s"order $okey line $lnum flag ${"ARN" (rnd.nextInt(3))} status ${"OF" (rnd.nextInt(2))}"
    val variant = idx % 11 match {
      case 1  => "<!-- note 11 -->"
      case 2  => "<br><hr><img src=\"/x.png\">"
      case 3  => "<section><section>nested</section>"
      case 4  => "<span title='say \"hi\" now'>q</span>"
      case 5  => "<pre> a  b </pre>"
      case 6  => "< /q3>"
      case 7  => "<em id=\"z2\" class=\"a1\">x</em>"
      case 8  => "<ul><li>one</li><li>two</li></ul>"
      case 9  => "<input disabled type=\"text\">"
      case 10 => "<table><tr><td>c1</td><td>c2</td></tr></table>"
      case _  => ""
    }
    val html =
      "<html><head><title>conv</title><meta charset=\"utf-8\"></head><body>" +
        "<nav><a href=\"/home\">Home</a> <a href=\"/about\">About</a></nav>" +
        "<div class=\"main\" id=\"main\"><h1>Conversation record</h1>" +
        s"<p>$d</p><p>$facts</p><a href=\"/ord/$okey/$lnum\">details</a></div>" +
        "<footer><p>footer boilerplate text</p></footer>" + variant + "</body></html>"
    Doc("template", html, Some(s"Conversation record\n$d\n$facts"), Nil, Nil)
  }

  /** A tag-soup page of about `size` characters: unclosed p/li/td, stray
    * and spaced endtags, comments holding tags, script/style holding `<`,
    * single-quoted and bare attributes, `<pre>`, non-BMP text, and a
    * leading BOM on every seventh page. Main-content sentences carry a
    * marker that the extraction must keep; nav, footer and body-script
    * boilerplate carry markers it must drop.
    */
  private def webPage(rnd: Random, id: Int, size: Int): Doc = {
    val sb = new java.lang.StringBuilder(size + 4096)
    if (id % 7 == 0) sb.append('\uFEFF')
    sb.append("<!DOCTYPE html>\n<html><head><meta charset=utf-8><title>page ")
      .append(id).append("</title>\n<style>p > a { color: red } li<b { x: 1 }</style>\n")
      .append("<script>if (a < b && c > d) { x = '<p>'; }</script></head>\n<body class='page'>\n")
      .append("<nav class='top'><ul><li><a href='/a'>NAVBOILER home</a>")
      .append("<li><a href=/b>NAVBOILER about</a></ul></nav>\n<div id=main class=\"content\">\n")
    val planted = (0 until 3).map(k => s"MAINSENT$id-$k")
    planted.foreach { m =>
      sb.append("<p>").append(m).append(' ').append(words(rnd, 8, 20)).append("</p>\n")
    }
    // the constructs cycle in a fixed order, so every page of a size has
    // the same mix whatever the seed; the seed picks the words
    var k = 0
    while (sb.length < size) {
      (k + id) % 12 match {
        case 0  => sb.append("<h2>").append(words(rnd, 2, 6)).append("</h2>\n")
        case 1  => sb.append("<p>").append(words(rnd, 10, 60)).append('\n')
        case 2  => sb.append("<p class='x'>").append(words(rnd, 10, 60)).append("</p>\n")
        case 3  =>
          sb.append("<ul>")
          (0 to rnd.nextInt(5)).foreach(_ => sb.append("<li>").append(words(rnd, 3, 12)))
          sb.append("</ul>\n")
        case 4  =>
          sb.append("<table><tr><td>").append(words(rnd, 2, 5)).append("<td>")
            .append(words(rnd, 2, 5)).append("<tr><td>").append(words(rnd, 2, 5))
            .append("</table>\n")
        case 5  => sb.append("<!-- comment <b>").append(k).append("</b> -->")
        case 6  => sb.append("<pre>  code  ").append(k).append("\n   more  </pre>\n")
        case 7  =>
          sb.append("</span>").append(words(rnd, 3, 8)).append(" < /em> ")
            .append(words(rnd, 3, 8)).append('\n')
        case 8  =>
          sb.append("<img src='a").append(k).append(".png' alt=bare disabled>")
            .append("<input type=checkbox checked>\n")
        case 9  => sb.append("<p>emoji 😀 and 𝄞 clef ").append(words(rnd, 5, 15)).append("</p>\n")
        case 10 => sb.append("<script type='text/javascript'>var SCRIPTBOILER = ").append(k).append(";</script>\n")
        case _  =>
          sb.append("<p>see <a href='/x/").append(k).append("'>link text</a> and ")
            .append(words(rnd, 8, 20)).append("</p>\n")
      }
      k += 1
    }
    sb.append("</div>\n<footer><p>FOOTBOILER copyright</p></footer></body></html>\n")
    Doc("web", sb.toString, None, planted, Boilerplate)
  }
}

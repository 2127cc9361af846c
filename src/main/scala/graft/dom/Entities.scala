package graft.dom

/** HTML entity decode/encode over UTF-8 byte spans.
  *
  * Re-derives the behavior visdom gets from the external `htmlentity` crate
  * (re-exported at reference `src/lib.rs:30-36`): decode of named / decimal /
  * hex entities for `text()` (reference `src/lib.rs:228-236`, RenderOptions
  * decode_entity=true) and `NamedOrDecimal` encoding of special characters
  * for `set_text` (reference `src/lib.rs:251-296`).
  *
  * Entity syntax is pure ASCII, so scanning byte spans is exact; multi-byte
  * UTF-8 runs between entities pass through untouched (memcpy on the UTF-8
  * output path).
  *
  * Named table: HTML4/Latin-1 + common HTML5 names (the subset that can
  * appear in this repo's deterministic fixture corpus; decode requires a
  * terminating `;`).
  */
object Entities {
  // name -> replacement string. Kept sorted logically by group for review.
  private val named: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String](1024)
    def p(n: String, cp: Int): Unit = m.put(n, new String(Character.toChars(cp)))
    // XML / basics
    p("amp", '&'); p("lt", '<'); p("gt", '>'); p("quot", '"'); p("apos", '\'')
    // Latin-1 (160..255)
    val latin1 = Array(
      "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
      "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr",
      "deg", "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot",
      "cedil", "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
      "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil",
      "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc", "Iuml",
      "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml", "times",
      "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute", "THORN", "szlig",
      "agrave", "aacute", "acirc", "atilde", "auml", "aring", "aelig", "ccedil",
      "egrave", "eacute", "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
      "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
      "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml")
    var cp = 160
    latin1.foreach { n => p(n, cp); cp += 1 }
    // Latin extended / ligatures
    p("OElig", 0x152); p("oelig", 0x153); p("Scaron", 0x160); p("scaron", 0x161)
    p("Yuml", 0x178); p("fnof", 0x192); p("circ", 0x2C6); p("tilde", 0x2DC)
    // Greek
    val greekU = Array("Alpha", "Beta", "Gamma", "Delta", "Epsilon", "Zeta",
      "Eta", "Theta", "Iota", "Kappa", "Lambda", "Mu", "Nu", "Xi", "Omicron",
      "Pi", "Rho", "", "Sigma", "Tau", "Upsilon", "Phi", "Chi", "Psi", "Omega")
    var g = 0x391
    greekU.foreach { n => if (n.nonEmpty) p(n, g); g += 1 }
    val greekL = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigmaf", "sigma", "tau", "upsilon", "phi", "chi", "psi",
      "omega")
    g = 0x3B1
    greekL.foreach { n => p(n, g); g += 1 }
    p("thetasym", 0x3D1); p("upsih", 0x3D2); p("piv", 0x3D6)
    // punctuation / typographic
    p("ensp", 0x2002); p("emsp", 0x2003); p("thinsp", 0x2009)
    p("zwnj", 0x200C); p("zwj", 0x200D); p("lrm", 0x200E); p("rlm", 0x200F)
    p("ndash", 0x2013); p("mdash", 0x2014)
    p("lsquo", 0x2018); p("rsquo", 0x2019); p("sbquo", 0x201A)
    p("ldquo", 0x201C); p("rdquo", 0x201D); p("bdquo", 0x201E)
    p("dagger", 0x2020); p("Dagger", 0x2021); p("bull", 0x2022)
    p("hellip", 0x2026); p("permil", 0x2030); p("prime", 0x2032)
    p("Prime", 0x2033); p("lsaquo", 0x2039); p("rsaquo", 0x203A)
    p("oline", 0x203E); p("frasl", 0x2044); p("euro", 0x20AC)
    // letterlike / arrows
    p("alefsym", 0x2135); p("weierp", 0x2118); p("image", 0x2111); p("real", 0x211C)
    p("trade", 0x2122)
    p("larr", 0x2190); p("uarr", 0x2191); p("rarr", 0x2192); p("darr", 0x2193)
    p("harr", 0x2194); p("crarr", 0x21B5)
    p("lArr", 0x21D0); p("uArr", 0x21D1); p("rArr", 0x21D2); p("dArr", 0x21D3)
    p("hArr", 0x21D4)
    // math
    p("forall", 0x2200); p("part", 0x2202); p("exist", 0x2203); p("empty", 0x2205)
    p("nabla", 0x2207); p("isin", 0x2208); p("notin", 0x2209); p("ni", 0x220B)
    p("prod", 0x220F); p("sum", 0x2211); p("minus", 0x2212); p("lowast", 0x2217)
    p("radic", 0x221A); p("prop", 0x221D); p("infin", 0x221E); p("ang", 0x2220)
    p("and", 0x2227); p("or", 0x2228); p("cap", 0x2229); p("cup", 0x222A)
    p("int", 0x222B); p("there4", 0x2234); p("sim", 0x223C); p("cong", 0x2245)
    p("asymp", 0x2248); p("ne", 0x2260); p("equiv", 0x2261); p("le", 0x2264)
    p("ge", 0x2265); p("sub", 0x2282); p("sup", 0x2283); p("nsub", 0x2284)
    p("sube", 0x2286); p("supe", 0x2287); p("oplus", 0x2295); p("otimes", 0x2297)
    p("perp", 0x22A5); p("sdot", 0x22C5)
    // misc shapes
    p("lceil", 0x2308); p("rceil", 0x2309); p("lfloor", 0x230A); p("rfloor", 0x230B)
    // HTML5 (WHATWG entities.json) remaps lang/rang from the HTML4
    // 2329/232A to the mathematical angle brackets
    p("lang", 0x27E8); p("rang", 0x27E9); p("loz", 0x25CA)
    p("spades", 0x2660); p("clubs", 0x2663); p("hearts", 0x2665); p("diams", 0x2666)
    html5Extras(m)
    m
  }

  /** The rest of the WHATWG HTML5 named-reference table (the behavior the
    * reference gets from the `htmlentity` crate, reference
    * `src/lib.rs:30-36`). Systematic Unicode ranges are generated; the rest
    * are explicit. All decode with a terminating `;`. */
  private def html5Extras(m: java.util.HashMap[String, String]): Unit = {
    def p(n: String, cp: Int): Unit = m.put(n, new String(Character.toChars(cp)))
    def alias(pairs: (String, Int)*): Unit = pairs.foreach { case (n, cp) => p(n, cp) }

    // legacy uppercase aliases
    alias("AMP" -> '&', "LT" -> '<', "GT" -> '>', "QUOT" -> '"',
      "COPY" -> 0xA9, "REG" -> 0xAE, "TRADE" -> 0x2122)
    // ASCII punctuation names
    alias("excl" -> '!', "num" -> '#', "dollar" -> '$', "percnt" -> '%',
      "lpar" -> '(', "rpar" -> ')', "ast" -> '*', "midast" -> '*',
      "plus" -> '+', "comma" -> ',', "period" -> '.', "sol" -> '/',
      "colon" -> ':', "semi" -> ';', "equals" -> '=', "quest" -> '?',
      "commat" -> '@', "lbrack" -> '[', "lsqb" -> '[', "bsol" -> '\\',
      "rbrack" -> ']', "rsqb" -> ']', "Hat" -> '^', "lowbar" -> '_',
      "UnderBar" -> '_', "grave" -> '`', "DiacriticalGrave" -> '`',
      "lbrace" -> '{', "lcub" -> '{', "verbar" -> '|', "vert" -> '|',
      "VerticalLine" -> '|', "rbrace" -> '}', "rcub" -> '}')
    // diacritic marks
    alias("Dot" -> 0xA8, "DoubleDot" -> 0xA8, "die" -> 0xA8,
      "Cedilla" -> 0xB8, "breve" -> 0x2D8, "Breve" -> 0x2D8,
      "caron" -> 0x2C7, "Hacek" -> 0x2C7, "dot" -> 0x2D9,
      "DiacriticalDot" -> 0x2D9, "ring" -> 0x2DA, "dblac" -> 0x2DD,
      "DiacriticalDoubleAcute" -> 0x2DD, "DiacriticalAcute" -> 0xB4,
      "DiacriticalTilde" -> 0x2DC, "centerdot" -> 0xB7, "CenterDot" -> 0xB7)

    // ---- Latin Extended-A (0x100..0x17F), explicit per HTML5 naming ----
    val latinA = Seq(
      "Amacr" -> 0x100, "amacr" -> 0x101, "Abreve" -> 0x102, "abreve" -> 0x103,
      "Aogon" -> 0x104, "aogon" -> 0x105, "Cacute" -> 0x106, "cacute" -> 0x107,
      "Ccirc" -> 0x108, "ccirc" -> 0x109, "Cdot" -> 0x10A, "cdot" -> 0x10B,
      "Ccaron" -> 0x10C, "ccaron" -> 0x10D, "Dcaron" -> 0x10E, "dcaron" -> 0x10F,
      "Dstrok" -> 0x110, "dstrok" -> 0x111, "Emacr" -> 0x112, "emacr" -> 0x113,
      "Edot" -> 0x116, "edot" -> 0x117, "Eogon" -> 0x118, "eogon" -> 0x119,
      "Ecaron" -> 0x11A, "ecaron" -> 0x11B, "Gcirc" -> 0x11C, "gcirc" -> 0x11D,
      "Gbreve" -> 0x11E, "gbreve" -> 0x11F, "Gdot" -> 0x120, "gdot" -> 0x121,
      "Gcedil" -> 0x122, "Hcirc" -> 0x124, "hcirc" -> 0x125,
      "Hstrok" -> 0x126, "hstrok" -> 0x127, "Itilde" -> 0x128, "itilde" -> 0x129,
      "Imacr" -> 0x12A, "imacr" -> 0x12B, "Iogon" -> 0x12E, "iogon" -> 0x12F,
      "Idot" -> 0x130, "imath" -> 0x131, "inodot" -> 0x131,
      "IJlig" -> 0x132, "ijlig" -> 0x133, "Jcirc" -> 0x134, "jcirc" -> 0x135,
      "Kcedil" -> 0x136, "kcedil" -> 0x137, "kgreen" -> 0x138,
      "Lacute" -> 0x139, "lacute" -> 0x13A, "Lcedil" -> 0x13B, "lcedil" -> 0x13C,
      "Lcaron" -> 0x13D, "lcaron" -> 0x13E, "Lmidot" -> 0x13F, "lmidot" -> 0x140,
      "Lstrok" -> 0x141, "lstrok" -> 0x142, "Nacute" -> 0x143, "nacute" -> 0x144,
      "Ncedil" -> 0x145, "ncedil" -> 0x146, "Ncaron" -> 0x147, "ncaron" -> 0x148,
      "napos" -> 0x149, "ENG" -> 0x14A, "eng" -> 0x14B,
      "Omacr" -> 0x14C, "omacr" -> 0x14D, "Odblac" -> 0x150, "odblac" -> 0x151,
      "Racute" -> 0x154, "racute" -> 0x155, "Rcedil" -> 0x156, "rcedil" -> 0x157,
      "Rcaron" -> 0x158, "rcaron" -> 0x159, "Sacute" -> 0x15A, "sacute" -> 0x15B,
      "Scirc" -> 0x15C, "scirc" -> 0x15D, "Scedil" -> 0x15E, "scedil" -> 0x15F,
      "Tcedil" -> 0x162, "tcedil" -> 0x163, "Tcaron" -> 0x164, "tcaron" -> 0x165,
      "Tstrok" -> 0x166, "tstrok" -> 0x167, "Utilde" -> 0x168, "utilde" -> 0x169,
      "Umacr" -> 0x16A, "umacr" -> 0x16B, "Ubreve" -> 0x16C, "ubreve" -> 0x16D,
      "Uring" -> 0x16E, "uring" -> 0x16F, "Udblac" -> 0x170, "udblac" -> 0x171,
      "Uogon" -> 0x172, "uogon" -> 0x173, "Wcirc" -> 0x174, "wcirc" -> 0x175,
      "Ycirc" -> 0x176, "ycirc" -> 0x177, "Zacute" -> 0x179, "zacute" -> 0x17A,
      "Zdot" -> 0x17B, "zdot" -> 0x17C, "Zcaron" -> 0x17D, "zcaron" -> 0x17E,
      "jmath" -> 0x237, "gacute" -> 0x1F5)
    latinA.foreach { case (n, cp) => p(n, cp) }

    // ---- Greek HTML5 variants ----
    alias("epsiv" -> 0x3F5, "straightepsilon" -> 0x3F5, "bepsi" -> 0x3F6,
      "backepsilon" -> 0x3F6, "phiv" -> 0x3D5, "straightphi" -> 0x3D5,
      "varphi" -> 0x3D5, "kappav" -> 0x3F0, "varkappa" -> 0x3F0,
      "rhov" -> 0x3F1, "varrho" -> 0x3F1, "sigmav" -> 0x3C2,
      "varsigma" -> 0x3C2, "vartheta" -> 0x3D1, "varpi" -> 0x3D6,
      "Gammad" -> 0x3DC, "gammad" -> 0x3DD, "digamma" -> 0x3DD,
      "Upsi" -> 0x3D2, "iota" -> 0x3B9)

    // ---- full Cyrillic set ----
    val cyrU = Array("Acy", "Bcy", "Vcy", "Gcy", "Dcy", "IEcy", "ZHcy", "Zcy",
      "Icy", "Jcy", "Kcy", "Lcy", "Mcy", "Ncy", "Ocy", "Pcy", "Rcy", "Scy",
      "Tcy", "Ucy", "Fcy", "KHcy", "TScy", "CHcy", "SHcy", "SHCHcy", "HARDcy",
      "Ycy", "SOFTcy", "Ecy", "YUcy", "YAcy")
    cyrU.zipWithIndex.foreach { case (n, i) => p(n, 0x410 + i) }
    val cyrL = Array("acy", "bcy", "vcy", "gcy", "dcy", "iecy", "zhcy", "zcy",
      "icy", "jcy", "kcy", "lcy", "mcy", "ncy", "ocy", "pcy", "rcy", "scy",
      "tcy", "ucy", "fcy", "khcy", "tscy", "chcy", "shcy", "shchcy", "hardcy",
      "ycy", "softcy", "ecy", "yucy", "yacy")
    cyrL.zipWithIndex.foreach { case (n, i) => p(n, 0x430 + i) }
    alias("IOcy" -> 0x401, "DJcy" -> 0x402, "GJcy" -> 0x403, "Jukcy" -> 0x404,
      "DScy" -> 0x405, "Iukcy" -> 0x406, "YIcy" -> 0x407, "Jsercy" -> 0x408,
      "LJcy" -> 0x409, "NJcy" -> 0x40A, "TSHcy" -> 0x40B, "KJcy" -> 0x40C,
      "Ubrcy" -> 0x40E, "DZcy" -> 0x40F,
      "iocy" -> 0x451, "djcy" -> 0x452, "gjcy" -> 0x453, "jukcy" -> 0x454,
      "dscy" -> 0x455, "iukcy" -> 0x456, "yicy" -> 0x457, "jsercy" -> 0x458,
      "ljcy" -> 0x459, "njcy" -> 0x45A, "tshcy" -> 0x45B, "kjcy" -> 0x45C,
      "ubrcy" -> 0x45E, "dzcy" -> 0x45F)

    // ---- mathematical alphanumerics: opf / scr / fr alphabets ----
    val opfU = Map('C' -> 0x2102, 'H' -> 0x210D, 'N' -> 0x2115, 'P' -> 0x2119,
      'Q' -> 0x211A, 'R' -> 0x211D, 'Z' -> 0x2124)
    ('A' to 'Z').foreach(c =>
      p(s"${c}opf", opfU.getOrElse(c, 0x1D538 + (c - 'A'))))
    ('a' to 'z').foreach(c => p(s"${c}opf", 0x1D552 + (c - 'a')))
    val scrU = Map('B' -> 0x212C, 'E' -> 0x2130, 'F' -> 0x2131, 'H' -> 0x210B,
      'I' -> 0x2110, 'L' -> 0x2112, 'M' -> 0x2133, 'R' -> 0x211B)
    ('A' to 'Z').foreach(c =>
      p(s"${c}scr", scrU.getOrElse(c, 0x1D49C + (c - 'A'))))
    val scrL = Map('e' -> 0x212F, 'g' -> 0x210A, 'o' -> 0x2134)
    ('a' to 'z').foreach(c =>
      p(s"${c}scr", scrL.getOrElse(c, 0x1D4B6 + (c - 'a'))))
    val frU = Map('C' -> 0x212D, 'H' -> 0x210C, 'I' -> 0x2111, 'R' -> 0x211C,
      'Z' -> 0x2128)
    ('A' to 'Z').foreach(c =>
      p(s"${c}fr", frU.getOrElse(c, 0x1D504 + (c - 'A'))))
    ('a' to 'z').foreach(c => p(s"${c}fr", 0x1D51E + (c - 'a')))

    // ---- box drawing: axes h/v/u/d/l/r, uppercase = double on that axis ----
    alias("boxh" -> 0x2500, "boxv" -> 0x2502, "boxdr" -> 0x250C,
      "boxdl" -> 0x2510, "boxur" -> 0x2514, "boxul" -> 0x2518,
      "boxvr" -> 0x251C, "boxvl" -> 0x2524, "boxhd" -> 0x252C,
      "boxhu" -> 0x2534, "boxvh" -> 0x253C,
      "boxH" -> 0x2550, "boxV" -> 0x2551,
      "boxdR" -> 0x2552, "boxDr" -> 0x2553, "boxDR" -> 0x2554,
      "boxdL" -> 0x2555, "boxDl" -> 0x2556, "boxDL" -> 0x2557,
      "boxuR" -> 0x2558, "boxUr" -> 0x2559, "boxUR" -> 0x255A,
      "boxuL" -> 0x255B, "boxUl" -> 0x255C, "boxUL" -> 0x255D,
      "boxvR" -> 0x255E, "boxVr" -> 0x255F, "boxVR" -> 0x2560,
      "boxvL" -> 0x2561, "boxVl" -> 0x2562, "boxVL" -> 0x2563,
      "boxHd" -> 0x2564, "boxhD" -> 0x2565, "boxHD" -> 0x2566,
      "boxHu" -> 0x2567, "boxhU" -> 0x2568, "boxHU" -> 0x2569,
      "boxvH" -> 0x256A, "boxVh" -> 0x256B, "boxVH" -> 0x256C,
      "blank" -> 0x2423, "block" -> 0x2588, "uhblk" -> 0x2580,
      "lhblk" -> 0x2584)

    // ---- spaces / invisible ----
    alias("emsp13" -> 0x2004, "emsp14" -> 0x2005, "numsp" -> 0x2007,
      "puncsp" -> 0x2008, "hairsp" -> 0x200A, "VeryThinSpace" -> 0x200A,
      "ThinSpace" -> 0x2009, "MediumSpace" -> 0x205F,
      "ZeroWidthSpace" -> 0x200B, "NegativeVeryThinSpace" -> 0x200B,
      "NegativeThinSpace" -> 0x200B, "NegativeMediumSpace" -> 0x200B,
      "NegativeThickSpace" -> 0x200B, "NoBreak" -> 0x2060,
      "ApplyFunction" -> 0x2061, "af" -> 0x2061,
      "InvisibleTimes" -> 0x2062, "it" -> 0x2062,
      "InvisibleComma" -> 0x2063, "ic" -> 0x2063,
      "NonBreakingSpace" -> 0xA0)

    // ---- punctuation / typographic extras ----
    alias("hybull" -> 0x2043, "dash" -> 0x2010, "hyphen" -> 0x2010,
      "horbar" -> 0x2015, "Vert" -> 0x2016, "nldr" -> 0x2025,
      "mldr" -> 0x2026, "caret" -> 0x2041, "tprime" -> 0x2034,
      "bprime" -> 0x2035, "backprime" -> 0x2035, "qprime" -> 0x2057,
      "lsquor" -> 0x201A, "rsquor" -> 0x2019, "ldquor" -> 0x201E,
      "rdquor" -> 0x201D, "OpenCurlyQuote" -> 0x2018,
      "CloseCurlyQuote" -> 0x2019, "OpenCurlyDoubleQuote" -> 0x201C,
      "CloseCurlyDoubleQuote" -> 0x201D, "dagger" -> 0x2020,
      "ddagger" -> 0x2021, "pertenk" -> 0x2031, "incare" -> 0x2105,
      "copysr" -> 0x2117, "numero" -> 0x2116, "mho" -> 0x2127,
      "angst" -> 0xC5, "circledR" -> 0xAE, "circledS" -> 0x24C8,
      "HorizontalLine" -> 0x2500, "planckh" -> 0x210E, "planck" -> 0x210F,
      "hbar" -> 0x210F, "hslash" -> 0x210F, "ell" -> 0x2113,
      "beth" -> 0x2136, "gimel" -> 0x2137, "daleth" -> 0x2138,
      "DD" -> 0x2145, "CapitalDifferentialD" -> 0x2145,
      "dd" -> 0x2146, "DifferentialD" -> 0x2146,
      "ee" -> 0x2147, "ExponentialE" -> 0x2147, "exponentiale" -> 0x2147,
      "ii" -> 0x2148, "ImaginaryI" -> 0x2148, "oS" -> 0x24C8)

    // ---- ligatures ----
    alias("fflig" -> 0xFB00, "filig" -> 0xFB01, "fllig" -> 0xFB02,
      "ffilig" -> 0xFB03, "ffllig" -> 0xFB04)

    // ---- letterlike aliases / blackboard names ----
    alias("wp" -> 0x2118, "Re" -> 0x211C, "Im" -> 0x2111, "ohm" -> 0x3A9,
      "complexes" -> 0x2102, "quaternions" -> 0x210D, "primes" -> 0x2119,
      "rationals" -> 0x211A, "reals" -> 0x211D, "integers" -> 0x2124,
      "Bernoullis" -> 0x212C, "bernou" -> 0x212C, "Cayleys" -> 0x212D,
      "Fouriertrf" -> 0x2131, "hamilt" -> 0x210B, "HilbertSpace" -> 0x210B,
      "Mellintrf" -> 0x2133, "phmmat" -> 0x2133, "order" -> 0x2134,
      "orderof" -> 0x2134, "zeetrf" -> 0x2128, "imagline" -> 0x2110,
      "imagpart" -> 0x2111, "realpart" -> 0x211C, "realine" -> 0x211B,
      "Laplacetrf" -> 0x2112, "lagran" -> 0x2112, "Rrightarrow" -> 0x21DB,
      "Lleftarrow" -> 0x21DA, "angle" -> 0x2220, "lozf" -> 0x29EB,
      "blacklozenge" -> 0x29EB, "blk14" -> 0x2591, "blk12" -> 0x2592,
      "blk34" -> 0x2593, "Tab" -> 0x9, "NewLine" -> 0xA,
      "lap" -> 0x2A85, "lessapprox" -> 0x2A85, "gap" -> 0x2A86,
      "gtrapprox" -> 0x2A86, "eqslantless" -> 0x2A95, "eqslantgtr" -> 0x2A96,
      "pre" -> 0x2AAF, "preceq" -> 0x2AAF, "PrecedesEqual" -> 0x2AAF,
      "sce" -> 0x2AB0, "succeq" -> 0x2AB0, "SucceedsEqual" -> 0x2AB0,
      "angzarr" -> 0x237C, "cirmid" -> 0x2AEF, "topfork" -> 0x2ADA)

    // ---- fractions ----
    alias("frac13" -> 0x2153, "frac23" -> 0x2154, "frac15" -> 0x2155,
      "frac25" -> 0x2156, "frac35" -> 0x2157, "frac45" -> 0x2158,
      "frac16" -> 0x2159, "frac56" -> 0x215A, "frac18" -> 0x215B,
      "frac38" -> 0x215C, "frac58" -> 0x215D, "frac78" -> 0x215E)

    // ---- arrows ----
    alias("nwarr" -> 0x2196, "nearr" -> 0x2197, "searr" -> 0x2198,
      "swarr" -> 0x2199, "nwarrow" -> 0x2196, "nearrow" -> 0x2197,
      "searrow" -> 0x2198, "swarrow" -> 0x2199,
      "nlarr" -> 0x219A, "nleftarrow" -> 0x219A, "nrarr" -> 0x219B,
      "nrightarrow" -> 0x219B, "rarrw" -> 0x219D, "rightsquigarrow" -> 0x219D,
      "Larr" -> 0x219E, "twoheadleftarrow" -> 0x219E, "Uarr" -> 0x219F,
      "Rarr" -> 0x21A0, "twoheadrightarrow" -> 0x21A0, "Darr" -> 0x21A1,
      "larrtl" -> 0x21A2, "leftarrowtail" -> 0x21A2, "rarrtl" -> 0x21A3,
      "rightarrowtail" -> 0x21A3, "map" -> 0x21A6, "mapsto" -> 0x21A6,
      "RightTeeArrow" -> 0x21A6, "mapstoup" -> 0x21A5, "mapstodown" -> 0x21A7,
      "mapstoleft" -> 0x21A4, "larrhk" -> 0x21A9, "hookleftarrow" -> 0x21A9,
      "rarrhk" -> 0x21AA, "hookrightarrow" -> 0x21AA,
      "larrlp" -> 0x21AB, "looparrowleft" -> 0x21AB, "rarrlp" -> 0x21AC,
      "looparrowright" -> 0x21AC, "harrw" -> 0x21AD,
      "leftrightsquigarrow" -> 0x21AD, "nharr" -> 0x21AE,
      "nleftrightarrow" -> 0x21AE, "lsh" -> 0x21B0, "Lsh" -> 0x21B0,
      "rsh" -> 0x21B1, "Rsh" -> 0x21B1, "ldsh" -> 0x21B2, "rdsh" -> 0x21B3,
      "cularr" -> 0x21B6, "curvearrowleft" -> 0x21B6, "curarr" -> 0x21B7,
      "curvearrowright" -> 0x21B7, "olarr" -> 0x21BA,
      "circlearrowleft" -> 0x21BA, "orarr" -> 0x21BB,
      "circlearrowright" -> 0x21BB,
      "lharu" -> 0x21BC, "leftharpoonup" -> 0x21BC, "lhard" -> 0x21BD,
      "leftharpoondown" -> 0x21BD, "uharr" -> 0x21BE, "upharpoonright" -> 0x21BE,
      "uharl" -> 0x21BF, "upharpoonleft" -> 0x21BF, "rharu" -> 0x21C0,
      "rightharpoonup" -> 0x21C0, "rhard" -> 0x21C1,
      "rightharpoondown" -> 0x21C1, "dharr" -> 0x21C2,
      "downharpoonright" -> 0x21C2, "dharl" -> 0x21C3,
      "downharpoonleft" -> 0x21C3, "rlarr" -> 0x21C4,
      "rightleftarrows" -> 0x21C4, "udarr" -> 0x21C5, "lrarr" -> 0x21C6,
      "leftrightarrows" -> 0x21C6, "llarr" -> 0x21C7, "leftleftarrows" -> 0x21C7,
      "uuarr" -> 0x21C8, "upuparrows" -> 0x21C8, "rrarr" -> 0x21C9,
      "rightrightarrows" -> 0x21C9, "ddarr" -> 0x21CA,
      "downdownarrows" -> 0x21CA, "lrhar" -> 0x21CB,
      "leftrightharpoons" -> 0x21CB, "rlhar" -> 0x21CC,
      "rightleftharpoons" -> 0x21CC, "nlArr" -> 0x21CD, "nhArr" -> 0x21CE,
      "nrArr" -> 0x21CF, "vArr" -> 0x21D5, "UpDownArrow" -> 0x2195,
      "varr" -> 0x2195, "updownarrow" -> 0x2195,
      "nwArr" -> 0x21D6, "neArr" -> 0x21D7, "seArr" -> 0x21D8,
      "swArr" -> 0x21D9, "duarr" -> 0x21F5,
      "xlarr" -> 0x27F5, "longleftarrow" -> 0x27F5, "LongLeftArrow" -> 0x27F5,
      "xrarr" -> 0x27F6, "longrightarrow" -> 0x27F6, "LongRightArrow" -> 0x27F6,
      "xharr" -> 0x27F7, "longleftrightarrow" -> 0x27F7,
      "LongLeftRightArrow" -> 0x27F7, "xlArr" -> 0x27F8,
      "Longleftarrow" -> 0x27F8, "xrArr" -> 0x27F9, "Longrightarrow" -> 0x27F9,
      "xhArr" -> 0x27FA, "Longleftrightarrow" -> 0x27FA, "xmap" -> 0x27FC,
      "longmapsto" -> 0x27FC,
      "LeftArrow" -> 0x2190, "leftarrow" -> 0x2190, "ShortLeftArrow" -> 0x2190,
      "RightArrow" -> 0x2192, "rightarrow" -> 0x2192,
      "ShortRightArrow" -> 0x2192, "UpArrow" -> 0x2191, "uparrow" -> 0x2191,
      "DownArrow" -> 0x2193, "downarrow" -> 0x2193,
      "LeftRightArrow" -> 0x2194, "leftrightarrow" -> 0x2194,
      "Leftarrow" -> 0x21D0, "DoubleLeftArrow" -> 0x21D0,
      "Rightarrow" -> 0x21D2, "DoubleRightArrow" -> 0x21D2,
      "Implies" -> 0x21D2, "Uparrow" -> 0x21D1, "Downarrow" -> 0x21D3,
      "Leftrightarrow" -> 0x21D4, "DoubleLeftRightArrow" -> 0x21D4,
      "iff" -> 0x21D4)

    // ---- math operators / relations ----
    alias("comp" -> 0x2201, "complement" -> 0x2201, "nexist" -> 0x2204,
      "nexists" -> 0x2204, "NotExists" -> 0x2204, "emptyv" -> 0x2205,
      "varnothing" -> 0x2205, "emptyset" -> 0x2205, "plusmn" -> 0xB1,
      "PlusMinus" -> 0xB1, "pm" -> 0xB1, "mp" -> 0x2213, "mnplus" -> 0x2213,
      "MinusPlus" -> 0x2213, "plusdo" -> 0x2214, "dotplus" -> 0x2214,
      "setminus" -> 0x2216, "setmn" -> 0x2216, "smallsetminus" -> 0x2216,
      "ssetmn" -> 0x2216, "compfn" -> 0x2218, "SmallCircle" -> 0x2218,
      "angrt" -> 0x221F, "angmsd" -> 0x2221, "measuredangle" -> 0x2221,
      "angsph" -> 0x2222, "mid" -> 0x2223, "shortmid" -> 0x2223,
      "VerticalBar" -> 0x2223, "nmid" -> 0x2224, "nshortmid" -> 0x2224,
      "NotVerticalBar" -> 0x2224, "par" -> 0x2225, "parallel" -> 0x2225,
      "spar" -> 0x2225, "shortparallel" -> 0x2225, "DoubleVerticalBar" -> 0x2225,
      "npar" -> 0x2226, "nparallel" -> 0x2226, "nspar" -> 0x2226,
      "NotDoubleVerticalBar" -> 0x2226,
      "Int" -> 0x222C, "tint" -> 0x222D, "iiiint" -> 0x2A0C,
      "conint" -> 0x222E, "oint" -> 0x222E, "ContourIntegral" -> 0x222E,
      "Conint" -> 0x222F, "Cconint" -> 0x2230, "cwint" -> 0x2231,
      "cwconint" -> 0x2232, "awconint" -> 0x2233, "becaus" -> 0x2235,
      "because" -> 0x2235, "Because" -> 0x2235, "Therefore" -> 0x2234,
      "therefore" -> 0x2234, "ratio" -> 0x2236, "Colon" -> 0x2237,
      "Proportion" -> 0x2237, "minusd" -> 0x2238, "dotminus" -> 0x2238,
      "bsim" -> 0x223D, "backsim" -> 0x223D, "wr" -> 0x2240, "wreath" -> 0x2240,
      "VerticalTilde" -> 0x2240, "nsim" -> 0x2241, "NotTilde" -> 0x2241,
      "esim" -> 0x2242, "EqualTilde" -> 0x2242, "sime" -> 0x2243,
      "simeq" -> 0x2243, "TildeEqual" -> 0x2243, "nsime" -> 0x2244,
      "nsimeq" -> 0x2244, "NotTildeEqual" -> 0x2244,
      "TildeFullEqual" -> 0x2245, "simne" -> 0x2246, "ncong" -> 0x2247,
      "NotTildeFullEqual" -> 0x2247, "TildeTilde" -> 0x2248,
      "approx" -> 0x2248, "thickapprox" -> 0x2248, "thkap" -> 0x2248,
      "nap" -> 0x2249, "napprox" -> 0x2249, "NotTildeTilde" -> 0x2249,
      "ape" -> 0x224A, "approxeq" -> 0x224A, "bcong" -> 0x224C,
      "backcong" -> 0x224C, "CupCap" -> 0x224D, "asympeq" -> 0x224D,
      "bump" -> 0x224E, "Bumpeq" -> 0x224E, "HumpDownHump" -> 0x224E,
      "bumpe" -> 0x224F, "bumpeq" -> 0x224F, "HumpEqual" -> 0x224F,
      "doteq" -> 0x2250, "esdot" -> 0x2250, "DotEqual" -> 0x2250,
      "eDot" -> 0x2251, "doteqdot" -> 0x2251, "efDot" -> 0x2252,
      "fallingdotseq" -> 0x2252, "erDot" -> 0x2253, "risingdotseq" -> 0x2253,
      "colone" -> 0x2254, "coloneq" -> 0x2254, "Assign" -> 0x2254,
      "ecolon" -> 0x2255, "eqcolon" -> 0x2255, "ecir" -> 0x2256,
      "eqcirc" -> 0x2256, "cire" -> 0x2257, "circeq" -> 0x2257,
      "wedgeq" -> 0x2259, "veeeq" -> 0x225A, "trie" -> 0x225C,
      "triangleq" -> 0x225C, "equest" -> 0x225F, "questeq" -> 0x225F,
      "NotEqual" -> 0x2260, "Congruent" -> 0x2261, "NotCongruent" -> 0x2262,
      "nequiv" -> 0x2262, "lE" -> 0x2266, "leqq" -> 0x2266, "gE" -> 0x2267,
      "geqq" -> 0x2267, "lnE" -> 0x2268, "lneqq" -> 0x2268, "gnE" -> 0x2269,
      "gneqq" -> 0x2269, "Lt" -> 0x226A, "ll" -> 0x226A,
      "NestedLessLess" -> 0x226A, "Gt" -> 0x226B, "gg" -> 0x226B,
      "NestedGreaterGreater" -> 0x226B, "twixt" -> 0x226C, "between" -> 0x226C,
      "NotCupCap" -> 0x226D, "nlt" -> 0x226E, "nless" -> 0x226E,
      "NotLess" -> 0x226E, "ngt" -> 0x226F, "ngtr" -> 0x226F,
      "NotGreater" -> 0x226F, "nle" -> 0x2270, "nleq" -> 0x2270,
      "NotLessEqual" -> 0x2270, "nge" -> 0x2271, "ngeq" -> 0x2271,
      "NotGreaterEqual" -> 0x2271, "lsim" -> 0x2272, "lesssim" -> 0x2272,
      "LessTilde" -> 0x2272, "gsim" -> 0x2273, "gtrsim" -> 0x2273,
      "GreaterTilde" -> 0x2273, "nlsim" -> 0x2274, "ngsim" -> 0x2275,
      "lg" -> 0x2276, "lessgtr" -> 0x2276, "LessGreater" -> 0x2276,
      "gl" -> 0x2277, "gtrless" -> 0x2277, "GreaterLess" -> 0x2277,
      "ntlg" -> 0x2278, "ntgl" -> 0x2279, "pr" -> 0x227A, "prec" -> 0x227A,
      "Precedes" -> 0x227A, "sc" -> 0x227B, "succ" -> 0x227B,
      "Succeeds" -> 0x227B, "prcue" -> 0x227C, "preccurlyeq" -> 0x227C,
      "PrecedesSlantEqual" -> 0x227C, "sccue" -> 0x227D,
      "succcurlyeq" -> 0x227D, "SucceedsSlantEqual" -> 0x227D,
      "prsim" -> 0x227E, "precsim" -> 0x227E, "PrecedesTilde" -> 0x227E,
      "scsim" -> 0x227F, "succsim" -> 0x227F, "SucceedsTilde" -> 0x227F,
      "npr" -> 0x2280, "nprec" -> 0x2280, "NotPrecedes" -> 0x2280,
      "nsc" -> 0x2281, "nsucc" -> 0x2281, "NotSucceeds" -> 0x2281,
      "subne" -> 0x228A, "subsetneq" -> 0x228A, "supne" -> 0x228B,
      "supsetneq" -> 0x228B, "nsube" -> 0x2288, "nsubseteq" -> 0x2288,
      "NotSubsetEqual" -> 0x2288, "nsupe" -> 0x2289, "nsupseteq" -> 0x2289,
      "NotSupersetEqual" -> 0x2289, "nsup" -> 0x2285,
      "cupdot" -> 0x228D, "uplus" -> 0x228E, "UnionPlus" -> 0x228E,
      "sqsub" -> 0x228F, "sqsubset" -> 0x228F, "SquareSubset" -> 0x228F,
      "sqsup" -> 0x2290, "sqsupset" -> 0x2290, "SquareSuperset" -> 0x2290,
      "sqsube" -> 0x2291, "sqsubseteq" -> 0x2291,
      "SquareSubsetEqual" -> 0x2291, "sqsupe" -> 0x2292,
      "sqsupseteq" -> 0x2292, "SquareSupersetEqual" -> 0x2292,
      "sqcap" -> 0x2293, "SquareIntersection" -> 0x2293, "sqcup" -> 0x2294,
      "SquareUnion" -> 0x2294, "CirclePlus" -> 0x2295,
      "ominus" -> 0x2296, "CircleMinus" -> 0x2296, "CircleTimes" -> 0x2297,
      "osol" -> 0x2298, "odot" -> 0x2299, "CircleDot" -> 0x2299,
      "ocir" -> 0x229A, "circledcirc" -> 0x229A, "oast" -> 0x229B,
      "circledast" -> 0x229B, "odash" -> 0x229D, "circleddash" -> 0x229D,
      "boxplus" -> 0x229E, "plusb" -> 0x229E, "boxminus" -> 0x229F,
      "minusb" -> 0x229F, "boxtimes" -> 0x22A0, "timesb" -> 0x22A0,
      "sdotb" -> 0x22A1, "dotsquare" -> 0x22A1, "vdash" -> 0x22A2,
      "RightTee" -> 0x22A2, "dashv" -> 0x22A3, "LeftTee" -> 0x22A3,
      "top" -> 0x22A4, "DownTee" -> 0x22A4, "bottom" -> 0x22A5,
      "bot" -> 0x22A5, "UpTee" -> 0x22A5, "models" -> 0x22A7,
      "vDash" -> 0x22A8, "DoubleRightTee" -> 0x22A8, "Vdash" -> 0x22A9,
      "Vvdash" -> 0x22AA, "VDash" -> 0x22AB, "nvdash" -> 0x22AC,
      "nvDash" -> 0x22AD, "nVdash" -> 0x22AE, "nVDash" -> 0x22AF,
      "prurel" -> 0x22B0, "vltri" -> 0x22B2, "vartriangleleft" -> 0x22B2,
      "LeftTriangle" -> 0x22B2, "vrtri" -> 0x22B3, "vartriangleright" -> 0x22B3,
      "RightTriangle" -> 0x22B3, "ltrie" -> 0x22B4, "trianglelefteq" -> 0x22B4,
      "LeftTriangleEqual" -> 0x22B4, "rtrie" -> 0x22B5,
      "trianglerighteq" -> 0x22B5, "RightTriangleEqual" -> 0x22B5,
      "origof" -> 0x22B6, "imof" -> 0x22B7, "mumap" -> 0x22B8,
      "multimap" -> 0x22B8, "hercon" -> 0x22B9, "intcal" -> 0x22BA,
      "intercal" -> 0x22BA, "veebar" -> 0x22BB, "barvee" -> 0x22BD,
      "angrtvb" -> 0x22BE, "lrtri" -> 0x22BF, "xwedge" -> 0x22C0,
      "Wedge" -> 0x22C0, "bigwedge" -> 0x22C0, "xvee" -> 0x22C1,
      "Vee" -> 0x22C1, "bigvee" -> 0x22C1, "xcap" -> 0x22C2,
      "Intersection" -> 0x22C2, "bigcap" -> 0x22C2, "xcup" -> 0x22C3,
      "Union" -> 0x22C3, "bigcup" -> 0x22C3, "diam" -> 0x22C4,
      "diamond" -> 0x22C4, "Diamond" -> 0x22C4, "sstarf" -> 0x22C6,
      "Star" -> 0x22C6, "divonx" -> 0x22C7, "divideontimes" -> 0x22C7,
      "bowtie" -> 0x22C8, "ltimes" -> 0x22C9, "rtimes" -> 0x22CA,
      "lthree" -> 0x22CB, "leftthreetimes" -> 0x22CB, "rthree" -> 0x22CC,
      "rightthreetimes" -> 0x22CC, "bsime" -> 0x22CD, "backsimeq" -> 0x22CD,
      "cuvee" -> 0x22CE, "curlyvee" -> 0x22CE, "cuwed" -> 0x22CF,
      "curlywedge" -> 0x22CF, "Sub" -> 0x22D0, "Subset" -> 0x22D0,
      "Sup" -> 0x22D1, "Supset" -> 0x22D1, "Cap" -> 0x22D2, "Cup" -> 0x22D3,
      "fork" -> 0x22D4, "pitchfork" -> 0x22D4, "epar" -> 0x22D5,
      "ltdot" -> 0x22D6, "lessdot" -> 0x22D6, "gtdot" -> 0x22D7,
      "gtrdot" -> 0x22D7, "Ll" -> 0x22D8, "Gg" -> 0x22D9, "ggg" -> 0x22D9,
      "leg" -> 0x22DA, "lesseqgtr" -> 0x22DA, "LessEqualGreater" -> 0x22DA,
      "gel" -> 0x22DB, "gtreqless" -> 0x22DB, "GreaterEqualLess" -> 0x22DB,
      "cuepr" -> 0x22DE, "curlyeqprec" -> 0x22DE, "cuesc" -> 0x22DF,
      "curlyeqsucc" -> 0x22DF, "lnsim" -> 0x22E6, "gnsim" -> 0x22E7,
      "prnsim" -> 0x22E8, "precnsim" -> 0x22E8, "scnsim" -> 0x22E9,
      "succnsim" -> 0x22E9, "nltri" -> 0x22EA, "ntriangleleft" -> 0x22EA,
      "NotLeftTriangle" -> 0x22EA, "nrtri" -> 0x22EB,
      "ntriangleright" -> 0x22EB, "NotRightTriangle" -> 0x22EB,
      "nltrie" -> 0x22EC, "ntrianglelefteq" -> 0x22EC, "nrtrie" -> 0x22ED,
      "ntrianglerighteq" -> 0x22ED, "vellip" -> 0x22EE, "ctdot" -> 0x22EF,
      "utdot" -> 0x22F0, "dtdot" -> 0x22F1, "isinv" -> 0x2208,
      "Element" -> 0x2208, "in" -> 0x2208, "NotElement" -> 0x2209,
      "notinva" -> 0x2209, "niv" -> 0x220B, "ReverseElement" -> 0x220B,
      "SuchThat" -> 0x220B, "notni" -> 0x220C,
      "notniva" -> 0x220C, "NotReverseElement" -> 0x220C,
      "ForAll" -> 0x2200, "Exists" -> 0x2203, "PartialD" -> 0x2202,
      "Del" -> 0x2207, "Sum" -> 0x2211,
      "Product" -> 0x220F, "Coproduct" -> 0x2210, "coprod" -> 0x2210,
      "Integral" -> 0x222B, "Proportional" -> 0x221D, "propto" -> 0x221D,
      "varpropto" -> 0x221D, "vprop" -> 0x221D, "Tilde" -> 0x223C,
      "thicksim" -> 0x223C, "thksim" -> 0x223C, "Equilibrium" -> 0x21CC,
      "ReverseEquilibrium" -> 0x21CB, "SubsetEqual" -> 0x2286,
      "subseteq" -> 0x2286, "SupersetEqual" -> 0x2287, "supseteq" -> 0x2287,
      "subset" -> 0x2282, "supset" -> 0x2283,
      "leq" -> 0x2264, "geq" -> 0x2265, "les" -> 0x2A7D, "ges" -> 0x2A7E,
      "LessSlantEqual" -> 0x2A7D, "GreaterSlantEqual" -> 0x2A7E,
      "infintie" -> 0x29DD, "nvinfin" -> 0x29DE, "Sqrt" -> 0x221A)

    // ---- geometric shapes / misc symbols ----
    alias("squ" -> 0x25A1, "square" -> 0x25A1, "Square" -> 0x25A1,
      "squf" -> 0x25AA, "squarf" -> 0x25AA, "blacksquare" -> 0x25AA,
      "FilledVerySmallSquare" -> 0x25AA, "EmptyVerySmallSquare" -> 0x25AB,
      "rect" -> 0x25AD, "marker" -> 0x25AE, "xutri" -> 0x25B3,
      "bigtriangleup" -> 0x25B3, "xdtri" -> 0x25BD,
      "bigtriangledown" -> 0x25BD, "utri" -> 0x25B5, "triangle" -> 0x25B5,
      "utrif" -> 0x25B4, "blacktriangle" -> 0x25B4, "dtri" -> 0x25BF,
      "triangledown" -> 0x25BF, "dtrif" -> 0x25BE,
      "blacktriangledown" -> 0x25BE, "rtri" -> 0x25B9,
      "triangleright" -> 0x25B9, "rtrif" -> 0x25B8,
      "blacktriangleright" -> 0x25B8, "ltri" -> 0x25C3,
      "triangleleft" -> 0x25C3, "ltrif" -> 0x25C2,
      "blacktriangleleft" -> 0x25C2, "cir" -> 0x25CB,
      "xcirc" -> 0x25EF, "bigcirc" -> 0x25EF, "ultri" -> 0x25F8,
      "urtri" -> 0x25F9, "lltri" -> 0x25FA, "starf" -> 0x2605,
      "bigstar" -> 0x2605, "star" -> 0x2606, "phone" -> 0x260E,
      "female" -> 0x2640, "male" -> 0x2642, "sung" -> 0x266A,
      "flat" -> 0x266D, "natur" -> 0x266E, "natural" -> 0x266E,
      "naturals" -> 0x2115, "sharp" -> 0x266F, "check" -> 0x2713,
      "checkmark" -> 0x2713, "cross" -> 0x2717, "malt" -> 0x2720,
      "maltese" -> 0x2720, "sext" -> 0x2736, "lobrk" -> 0x27E6,
      "LeftDoubleBracket" -> 0x27E6, "robrk" -> 0x27E7,
      "RightDoubleBracket" -> 0x27E7, "langle" -> 0x27E8,
      "LeftAngleBracket" -> 0x27E8, "rangle" -> 0x27E9,
      "RightAngleBracket" -> 0x27E9, "Lang" -> 0x27EA, "Rang" -> 0x27EB,
      "tbrk" -> 0x23B4, "OverBracket" -> 0x23B4, "bbrk" -> 0x23B5,
      "UnderBracket" -> 0x23B5, "OverBrace" -> 0x23DE, "UnderBrace" -> 0x23DF,
      "OverParenthesis" -> 0x23DC, "UnderParenthesis" -> 0x23DD,
      "telrec" -> 0x2315, "target" -> 0x2316, "cylcty" -> 0x232D,
      "profalar" -> 0x232E, "topbot" -> 0x2336, "frown" -> 0x2322,
      "sfrown" -> 0x2322, "smile" -> 0x2323, "ssmile" -> 0x2323,
      "lmoust" -> 0x23B0, "lmoustache" -> 0x23B0,
      "rmoust" -> 0x23B1, "rmoustache" -> 0x23B1)

    // ---- WHATWG multi-codepoint sequences ----
    // The complete two-codepoint set from the HTML5 named character
    // reference table (the reference decodes these through the htmlentity
    // crate's full WHATWG table, re-exported at reference src/lib.rs:56-59).
    // Three families: U+0338 / U+20D2 / U+20E5 negation overlays, U+FE00
    // variation selectors, and the literal ligature/base-char pairs.
    def seq(pairs: (String, String)*): Unit = pairs.foreach(kv => m.put(kv._1, kv._2))
    seq(
      // combining long solidus overlay U+0338
      "NotEqualTilde" -> "≂̸", "nesim" -> "≂̸",
      "NotGreaterFullEqual" -> "≧̸", "ngE" -> "≧̸",
      "ngeqq" -> "≧̸",
      "nlE" -> "≦̸", "nleqq" -> "≦̸",
      "NotGreaterGreater" -> "≫̸", "nGtv" -> "≫̸",
      "NotLessLess" -> "≪̸", "nLtv" -> "≪̸",
      "NotGreaterSlantEqual" -> "⩾̸", "ngeqslant" -> "⩾̸",
      "nges" -> "⩾̸",
      "NotLessSlantEqual" -> "⩽̸", "nleqslant" -> "⩽̸",
      "nles" -> "⩽̸",
      "NotHumpDownHump" -> "≎̸", "nbump" -> "≎̸",
      "NotHumpEqual" -> "≏̸", "nbumpe" -> "≏̸",
      "NotLeftTriangleBar" -> "⧏̸",
      "NotRightTriangleBar" -> "⧐̸",
      "NotNestedLessLess" -> "⪡̸",
      "NotNestedGreaterGreater" -> "⪢̸",
      "NotPrecedesEqual" -> "⪯̸", "npre" -> "⪯̸",
      "npreceq" -> "⪯̸",
      "NotSucceedsEqual" -> "⪰̸", "nsce" -> "⪰̸",
      "nsucceq" -> "⪰̸",
      "NotSucceedsTilde" -> "≿̸",
      "NotSquareSubset" -> "⊏̸",
      "NotSquareSuperset" -> "⊐̸",
      "nGg" -> "⋙̸", "nLl" -> "⋘̸",
      "napE" -> "⩰̸", "napid" -> "≋̸",
      "ncongdot" -> "⩭̸", "nedot" -> "≐̸",
      "notinE" -> "⋹̸", "notindot" -> "⋵̸",
      "npart" -> "∂̸",
      "nrarrc" -> "⤳̸", "nrarrw" -> "↝̸",
      "nsubE" -> "⫅̸", "nsubseteqq" -> "⫅̸",
      "nsupE" -> "⫆̸", "nsupseteqq" -> "⫆̸",
      "acE" -> "∾̳", "race" -> "∽̱",
      // combining vertical line overlays U+20D2 / U+20E5
      "nGt" -> "≫⃒", "nLt" -> "≪⃒",
      "nang" -> "∠⃒", "nvap" -> "≍⃒",
      "nvge" -> "≥⃒", "nvgt" -> ">⃒",
      "nvle" -> "≤⃒", "nvlt" -> "<⃒",
      "nvltrie" -> "⊴⃒", "nvrtrie" -> "⊵⃒",
      "nvsim" -> "∼⃒",
      "vnsub" -> "⊂⃒", "vnsup" -> "⊃⃒",
      "NotSubset" -> "⊂⃒", "nsubset" -> "⊂⃒",
      "NotSuperset" -> "⊃⃒", "nsupset" -> "⊃⃒",
      "bne" -> "=⃥", "bnequiv" -> "≡⃥",
      "nparsl" -> "⫽⃥",
      // variation selector VS1 U+FE00
      "caps" -> "∩︀", "cups" -> "∪︀",
      "sqcaps" -> "⊓︀", "sqcups" -> "⊔︀",
      "gesl" -> "⋛︀", "lesg" -> "⋚︀",
      "gvnE" -> "≩︀", "gvertneqq" -> "≩︀",
      "lvnE" -> "≨︀", "lvertneqq" -> "≨︀",
      "lates" -> "⪭︀", "smtes" -> "⪬︀",
      "vsubne" -> "⊊︀", "varsubsetneq" -> "⊊︀",
      "vsubnE" -> "⫋︀", "varsubsetneqq" -> "⫋︀",
      "vsupne" -> "⊋︀", "varsupsetneq" -> "⊋︀",
      "vsupnE" -> "⫌︀", "varsupsetneqq" -> "⫌︀",
      // literal pairs
      "fjlig" -> "fj", "ThickSpace" -> "\u205F\u200A")

    // ---- WHATWG completeness patch ----
    // The remaining semicolon-form names of the HTML5 named character
    // reference table (generated against the published WHATWG list; the
    // reference decodes the same full table via the htmlentity crate,
    // reference src/lib.rs:56-59). With this block the decoder covers
    // every `&name;` the spec defines - 2125 names.
    seq(
      "And" -> "\u2a53", "Backslash" -> "\u2216",
      "Barv" -> "\u2ae7", "Barwed" -> "\u2306",
      "ClockwiseContourIntegral" -> "\u2232", "Colone" -> "\u2a74",
      "CounterClockwiseContourIntegral" -> "\u2233", "Cross" -> "\u2a2f",
      "DDotrahd" -> "\u2911", "Dashv" -> "\u2ae4",
      "DotDot" -> "\u20dc", "DoubleContourIntegral" -> "\u222f",
      "DoubleDownArrow" -> "\u21d3", "DoubleLeftTee" -> "\u2ae4",
      "DoubleLongLeftArrow" -> "\u27f8", "DoubleLongLeftRightArrow" -> "\u27fa",
      "DoubleLongRightArrow" -> "\u27f9", "DoubleUpArrow" -> "\u21d1",
      "DoubleUpDownArrow" -> "\u21d5", "DownArrowBar" -> "\u2913",
      "DownArrowUpArrow" -> "\u21f5", "DownBreve" -> "\u0311",
      "DownLeftRightVector" -> "\u2950", "DownLeftTeeVector" -> "\u295e",
      "DownLeftVector" -> "\u21bd", "DownLeftVectorBar" -> "\u2956",
      "DownRightTeeVector" -> "\u295f", "DownRightVector" -> "\u21c1",
      "DownRightVectorBar" -> "\u2957", "DownTeeArrow" -> "\u21a7",
      "EmptySmallSquare" -> "\u25fb", "Equal" -> "\u2a75",
      "Esim" -> "\u2a73", "FilledSmallSquare" -> "\u25fc",
      "GreaterEqual" -> "\u2265", "GreaterFullEqual" -> "\u2267",
      "GreaterGreater" -> "\u2aa2", "LeftArrowBar" -> "\u21e4",
      "LeftArrowRightArrow" -> "\u21c6", "LeftCeiling" -> "\u2308",
      "LeftDownTeeVector" -> "\u2961", "LeftDownVector" -> "\u21c3",
      "LeftDownVectorBar" -> "\u2959", "LeftFloor" -> "\u230a",
      "LeftRightVector" -> "\u294e", "LeftTeeArrow" -> "\u21a4",
      "LeftTeeVector" -> "\u295a", "LeftTriangleBar" -> "\u29cf",
      "LeftUpDownVector" -> "\u2951", "LeftUpTeeVector" -> "\u2960",
      "LeftUpVector" -> "\u21bf", "LeftUpVectorBar" -> "\u2958",
      "LeftVector" -> "\u21bc", "LeftVectorBar" -> "\u2952",
      "LessFullEqual" -> "\u2266", "LessLess" -> "\u2aa1",
      "LowerLeftArrow" -> "\u2199", "LowerRightArrow" -> "\u2198",
      "Map" -> "\u2905", "Not" -> "\u2aec",
      "NotGreaterLess" -> "\u2279", "NotGreaterTilde" -> "\u2275",
      "NotLeftTriangleEqual" -> "\u22ec", "NotLessGreater" -> "\u2278",
      "NotLessTilde" -> "\u2274", "NotPrecedesSlantEqual" -> "\u22e0",
      "NotRightTriangleEqual" -> "\u22ed", "NotSquareSubsetEqual" -> "\u22e2",
      "NotSquareSupersetEqual" -> "\u22e3", "NotSucceedsSlantEqual" -> "\u22e1",
      "Or" -> "\u2a54", "Otimes" -> "\u2a37",
      "OverBar" -> "\u203e", "Poincareplane" -> "\u210c",
      "Pr" -> "\u2abb", "RBarr" -> "\u2910",
      "Rarrtl" -> "\u2916", "ReverseUpEquilibrium" -> "\u296f",
      "RightArrowBar" -> "\u21e5", "RightArrowLeftArrow" -> "\u21c4",
      "RightCeiling" -> "\u2309", "RightDownTeeVector" -> "\u295d",
      "RightDownVector" -> "\u21c2", "RightDownVectorBar" -> "\u2955",
      "RightFloor" -> "\u230b", "RightTeeVector" -> "\u295b",
      "RightTriangleBar" -> "\u29d0", "RightUpDownVector" -> "\u294f",
      "RightUpTeeVector" -> "\u295c", "RightUpVector" -> "\u21be",
      "RightUpVectorBar" -> "\u2954", "RightVector" -> "\u21c0",
      "RightVectorBar" -> "\u2953", "RoundImplies" -> "\u2970",
      "RuleDelayed" -> "\u29f4", "Sc" -> "\u2abc",
      "ShortDownArrow" -> "\u2193", "ShortUpArrow" -> "\u2191",
      "Superset" -> "\u2283", "TripleDot" -> "\u20db",
      "Uarrocir" -> "\u2949", "UpArrowBar" -> "\u2912",
      "UpArrowDownArrow" -> "\u21c5", "UpEquilibrium" -> "\u296e",
      "UpTeeArrow" -> "\u21a5", "Updownarrow" -> "\u21d5",
      "UpperLeftArrow" -> "\u2196", "UpperRightArrow" -> "\u2197",
      "Vbar" -> "\u2aeb", "Vdashl" -> "\u2ae6",
      "Verbar" -> "\u2016", "VerticalSeparator" -> "\u2758",
      "ac" -> "\u223e", "acd" -> "\u223f",
      "aleph" -> "\u2135", "amalg" -> "\u2a3f",
      "andand" -> "\u2a55", "andd" -> "\u2a5c",
      "andslope" -> "\u2a58", "andv" -> "\u2a5a",
      "ange" -> "\u29a4", "angmsdaa" -> "\u29a8",
      "angmsdab" -> "\u29a9", "angmsdac" -> "\u29aa",
      "angmsdad" -> "\u29ab", "angmsdae" -> "\u29ac",
      "angmsdaf" -> "\u29ad", "angmsdag" -> "\u29ae",
      "angmsdah" -> "\u29af", "angrtvbd" -> "\u299d",
      "ap" -> "\u2248", "apE" -> "\u2a70",
      "apacir" -> "\u2a6f", "apid" -> "\u224b",
      "awint" -> "\u2a11", "bNot" -> "\u2aed",
      "barwed" -> "\u2305", "barwedge" -> "\u2305",
      "bbrktbrk" -> "\u23b6", "bemptyv" -> "\u29b0",
      "bigodot" -> "\u2a00", "bigoplus" -> "\u2a01",
      "bigotimes" -> "\u2a02", "bigsqcup" -> "\u2a06",
      "biguplus" -> "\u2a04", "bkarow" -> "\u290d",
      "bnot" -> "\u2310", "boxbox" -> "\u29c9",
      "bsemi" -> "\u204f", "bsolb" -> "\u29c5",
      "bsolhsub" -> "\u27c8", "bullet" -> "\u2022",
      "bumpE" -> "\u2aae", "capand" -> "\u2a44",
      "capbrcup" -> "\u2a49", "capcap" -> "\u2a4b",
      "capcup" -> "\u2a47", "capdot" -> "\u2a40",
      "ccaps" -> "\u2a4d", "ccups" -> "\u2a4c",
      "ccupssm" -> "\u2a50", "cemptyv" -> "\u29b2",
      "cirE" -> "\u29c3", "cirfnint" -> "\u2a10",
      "cirscir" -> "\u29c2", "clubsuit" -> "\u2663",
      "congdot" -> "\u2a6d", "csub" -> "\u2acf",
      "csube" -> "\u2ad1", "csup" -> "\u2ad0",
      "csupe" -> "\u2ad2", "cudarrl" -> "\u2938",
      "cudarrr" -> "\u2935", "cularrp" -> "\u293d",
      "cupbrcap" -> "\u2a48", "cupcap" -> "\u2a46",
      "cupcup" -> "\u2a4a", "cupor" -> "\u2a45",
      "curarrm" -> "\u293c", "dHar" -> "\u2965",
      "dbkarow" -> "\u290f", "ddotseq" -> "\u2a77",
      "demptyv" -> "\u29b1", "dfisht" -> "\u297f",
      "diamondsuit" -> "\u2666", "disin" -> "\u22f2",
      "div" -> "\u00f7", "dlcorn" -> "\u231e",
      "dlcrop" -> "\u230d", "doublebarwedge" -> "\u2306",
      "drbkarow" -> "\u2910", "drcorn" -> "\u231f",
      "drcrop" -> "\u230c", "dsol" -> "\u29f6",
      "duhar" -> "\u296f", "dwangle" -> "\u29a6",
      "dzigrarr" -> "\u27ff", "eDDot" -> "\u2a77",
      "easter" -> "\u2a6e", "eg" -> "\u2a9a",
      "egs" -> "\u2a96", "egsdot" -> "\u2a98",
      "el" -> "\u2a99", "elinters" -> "\u23e7",
      "els" -> "\u2a95", "elsdot" -> "\u2a97",
      "eparsl" -> "\u29e3", "eplus" -> "\u2a71",
      "epsi" -> "\u03b5", "eqsim" -> "\u2242",
      "equivDD" -> "\u2a78", "eqvparsl" -> "\u29e5",
      "erarr" -> "\u2971", "expectation" -> "\u2130",
      "fltns" -> "\u25b1", "forkv" -> "\u2ad9",
      "fpartint" -> "\u2a0d", "gEl" -> "\u2a8c",
      "geqslant" -> "\u2a7e", "gescc" -> "\u2aa9",
      "gesdot" -> "\u2a80", "gesdoto" -> "\u2a82",
      "gesdotol" -> "\u2a84", "gesles" -> "\u2a94",
      "glE" -> "\u2a92", "gla" -> "\u2aa5",
      "glj" -> "\u2aa4", "gnap" -> "\u2a8a",
      "gnapprox" -> "\u2a8a", "gne" -> "\u2a88",
      "gneq" -> "\u2a88", "gsime" -> "\u2a8e",
      "gsiml" -> "\u2a90", "gtcc" -> "\u2aa7",
      "gtcir" -> "\u2a7a", "gtlPar" -> "\u2995",
      "gtquest" -> "\u2a7c", "gtrarr" -> "\u2978",
      "gtreqqless" -> "\u2a8c", "half" -> "\u00bd",
      "harrcir" -> "\u2948", "heartsuit" -> "\u2665",
      "hksearow" -> "\u2925", "hkswarow" -> "\u2926",
      "hoarr" -> "\u21ff", "homtht" -> "\u223b",
      "iiint" -> "\u222d", "iinfin" -> "\u29dc",
      "iiota" -> "\u2129", "imped" -> "\u01b5",
      "intlarhk" -> "\u2a17", "intprod" -> "\u2a3c",
      "iprod" -> "\u2a3c", "isinE" -> "\u22f9",
      "isindot" -> "\u22f5", "isins" -> "\u22f4",
      "isinsv" -> "\u22f3", "lAarr" -> "\u21da",
      "lAtail" -> "\u291b", "lBarr" -> "\u290e",
      "lEg" -> "\u2a8b", "lHar" -> "\u2962",
      "laemptyv" -> "\u29b4", "langd" -> "\u2991",
      "larrb" -> "\u21e4", "larrbfs" -> "\u291f",
      "larrfs" -> "\u291d", "larrpl" -> "\u2939",
      "larrsim" -> "\u2973", "lat" -> "\u2aab",
      "latail" -> "\u2919", "late" -> "\u2aad",
      "lbarr" -> "\u290c", "lbbrk" -> "\u2772",
      "lbrke" -> "\u298b", "lbrksld" -> "\u298f",
      "lbrkslu" -> "\u298d", "ldca" -> "\u2936",
      "ldrdhar" -> "\u2967", "ldrushar" -> "\u294b",
      "leqslant" -> "\u2a7d", "lescc" -> "\u2aa8",
      "lesdot" -> "\u2a7f", "lesdoto" -> "\u2a81",
      "lesdotor" -> "\u2a83", "lesges" -> "\u2a93",
      "lesseqqgtr" -> "\u2a8b", "lfisht" -> "\u297c",
      "lgE" -> "\u2a91", "lharul" -> "\u296a",
      "llcorner" -> "\u231e", "llhard" -> "\u296b",
      "lnap" -> "\u2a89", "lnapprox" -> "\u2a89",
      "lne" -> "\u2a87", "lneq" -> "\u2a87",
      "loang" -> "\u27ec", "loarr" -> "\u21fd",
      "lopar" -> "\u2985", "loplus" -> "\u2a2d",
      "lotimes" -> "\u2a34", "lozenge" -> "\u25ca",
      "lparlt" -> "\u2993", "lrcorner" -> "\u231f",
      "lrhard" -> "\u296d", "lsime" -> "\u2a8d",
      "lsimg" -> "\u2a8f", "ltcc" -> "\u2aa6",
      "ltcir" -> "\u2a79", "ltlarr" -> "\u2976",
      "ltquest" -> "\u2a7b", "ltrPar" -> "\u2996",
      "lurdshar" -> "\u294a", "luruhar" -> "\u2966",
      "mDDot" -> "\u223a", "mcomma" -> "\u2a29",
      "midcir" -> "\u2af0", "minusdu" -> "\u2a2a",
      "mlcp" -> "\u2adb", "mstpos" -> "\u223e",
      "nLeftarrow" -> "\u21cd", "nLeftrightarrow" -> "\u21ce",
      "nRightarrow" -> "\u21cf", "ncap" -> "\u2a43",
      "ncup" -> "\u2a42", "nearhk" -> "\u2924",
      "nesear" -> "\u2928", "nhpar" -> "\u2af2",
      "nis" -> "\u22fc", "nisd" -> "\u22fa",
      "notinvb" -> "\u22f7", "notinvc" -> "\u22f6",
      "notnivb" -> "\u22fe", "notnivc" -> "\u22fd",
      "npolint" -> "\u2a14", "nprcue" -> "\u22e0",
      "nsccue" -> "\u22e1", "nshortparallel" -> "\u2226",
      "nsmid" -> "\u2224", "nsqsube" -> "\u22e2",
      "nsqsupe" -> "\u22e3", "nvHarr" -> "\u2904",
      "nvlArr" -> "\u2902", "nvrArr" -> "\u2903",
      "nwarhk" -> "\u2923", "nwnear" -> "\u2927",
      "odiv" -> "\u2a38", "odsold" -> "\u29bc",
      "ofcir" -> "\u29bf", "ogon" -> "\u02db",
      "ogt" -> "\u29c1", "ohbar" -> "\u29b5",
      "olcir" -> "\u29be", "olcross" -> "\u29bb",
      "olt" -> "\u29c0", "omid" -> "\u29b6",
      "opar" -> "\u29b7", "operp" -> "\u29b9",
      "ord" -> "\u2a5d", "oror" -> "\u2a56",
      "orslope" -> "\u2a57", "orv" -> "\u2a5b",
      "otimesas" -> "\u2a36", "ovbar" -> "\u233d",
      "parsim" -> "\u2af3", "parsl" -> "\u2afd",
      "plankv" -> "\u210f", "plusacir" -> "\u2a23",
      "pluscir" -> "\u2a22", "plusdu" -> "\u2a25",
      "pluse" -> "\u2a72", "plussim" -> "\u2a26",
      "plustwo" -> "\u2a27", "pointint" -> "\u2a15",
      "prE" -> "\u2ab3", "prap" -> "\u2ab7",
      "precapprox" -> "\u2ab7", "precnapprox" -> "\u2ab9",
      "precneqq" -> "\u2ab5", "prnE" -> "\u2ab5",
      "prnap" -> "\u2ab9", "profline" -> "\u2312",
      "profsurf" -> "\u2313", "qint" -> "\u2a0c",
      "quatint" -> "\u2a16", "rAarr" -> "\u21db",
      "rAtail" -> "\u291c", "rBarr" -> "\u290f",
      "rHar" -> "\u2964", "raemptyv" -> "\u29b3",
      "rangd" -> "\u2992", "range" -> "\u29a5",
      "rarrap" -> "\u2975", "rarrb" -> "\u21e5",
      "rarrbfs" -> "\u2920", "rarrc" -> "\u2933",
      "rarrfs" -> "\u291e", "rarrpl" -> "\u2945",
      "rarrsim" -> "\u2974", "ratail" -> "\u291a",
      "rbarr" -> "\u290d", "rbbrk" -> "\u2773",
      "rbrke" -> "\u298c", "rbrksld" -> "\u298e",
      "rbrkslu" -> "\u2990", "rdca" -> "\u2937",
      "rdldhar" -> "\u2969", "rfisht" -> "\u297d",
      "rharul" -> "\u296c", "rnmid" -> "\u2aee",
      "roang" -> "\u27ed", "roarr" -> "\u21fe",
      "ropar" -> "\u2986", "roplus" -> "\u2a2e",
      "rotimes" -> "\u2a35", "rpargt" -> "\u2994",
      "rppolint" -> "\u2a12", "rtriltri" -> "\u29ce",
      "ruluhar" -> "\u2968", "rx" -> "\u211e",
      "scE" -> "\u2ab4", "scap" -> "\u2ab8",
      "scnE" -> "\u2ab6", "scnap" -> "\u2aba",
      "scpolint" -> "\u2a13", "sdote" -> "\u2a66",
      "searhk" -> "\u2925", "seswar" -> "\u2929",
      "simdot" -> "\u2a6a", "simg" -> "\u2a9e",
      "simgE" -> "\u2aa0", "siml" -> "\u2a9d",
      "simlE" -> "\u2a9f", "simplus" -> "\u2a24",
      "simrarr" -> "\u2972", "slarr" -> "\u2190",
      "smashp" -> "\u2a33", "smeparsl" -> "\u29e4",
      "smid" -> "\u2223", "smt" -> "\u2aaa",
      "smte" -> "\u2aac", "solb" -> "\u29c4",
      "solbar" -> "\u233f", "spadesuit" -> "\u2660",
      "srarr" -> "\u2192", "strns" -> "\u00af",
      "subE" -> "\u2ac5", "subdot" -> "\u2abd",
      "subedot" -> "\u2ac3", "submult" -> "\u2ac1",
      "subnE" -> "\u2acb", "subplus" -> "\u2abf",
      "subrarr" -> "\u2979", "subseteqq" -> "\u2ac5",
      "subsetneqq" -> "\u2acb", "subsim" -> "\u2ac7",
      "subsub" -> "\u2ad5", "subsup" -> "\u2ad3",
      "succapprox" -> "\u2ab8", "succnapprox" -> "\u2aba",
      "succneqq" -> "\u2ab6", "supE" -> "\u2ac6",
      "supdot" -> "\u2abe", "supdsub" -> "\u2ad8",
      "supedot" -> "\u2ac4", "suphsol" -> "\u27c9",
      "suphsub" -> "\u2ad7", "suplarr" -> "\u297b",
      "supmult" -> "\u2ac2", "supnE" -> "\u2acc",
      "supplus" -> "\u2ac0", "supseteqq" -> "\u2ac6",
      "supsetneqq" -> "\u2acc", "supsim" -> "\u2ac8",
      "supsub" -> "\u2ad4", "supsup" -> "\u2ad6",
      "swarhk" -> "\u2926", "swnwar" -> "\u292a",
      "tdot" -> "\u20db", "thetav" -> "\u03d1",
      "timesbar" -> "\u2a31", "timesd" -> "\u2a30",
      "toea" -> "\u2928", "topcir" -> "\u2af1",
      "tosa" -> "\u2929", "tridot" -> "\u25ec",
      "triminus" -> "\u2a3a", "triplus" -> "\u2a39",
      "trisb" -> "\u29cd", "tritime" -> "\u2a3b",
      "trpezium" -> "\u23e2", "uHar" -> "\u2963",
      "udhar" -> "\u296e", "ufisht" -> "\u297e",
      "ulcorn" -> "\u231c", "ulcorner" -> "\u231c",
      "ulcrop" -> "\u230f", "upsi" -> "\u03c5",
      "urcorn" -> "\u231d", "urcorner" -> "\u231d",
      "urcrop" -> "\u230e", "uwangle" -> "\u29a7",
      "vBar" -> "\u2ae8", "vBarv" -> "\u2ae9",
      "vangrt" -> "\u299c", "varepsilon" -> "\u03f5",
      "vee" -> "\u2228", "vzigzag" -> "\u299a",
      "wedbar" -> "\u2a5f", "wedge" -> "\u2227",
      "xnis" -> "\u22fb", "xodot" -> "\u2a00",
      "xoplus" -> "\u2a01", "xotime" -> "\u2a02",
      "xsqcup" -> "\u2a06", "xuplus" -> "\u2a04",
      "zigrarr" -> "\u21dd")
  }

  /** table size (diagnostics / sweep tests). */
  def namedCount: Int = named.size

  /** decoded value of one named entity, or null when unknown. */
  def namedValue(name: String): String = named.get(name)

  /** all known entity names (sweep tests). */
  def namedNames: Iterator[String] = {
    val it = named.keySet().iterator()
    new Iterator[String] {
      def hasNext: Boolean = it.hasNext
      def next(): String = it.next()
    }
  }

  /** append UTF-8 bytes [from, until) to a UTF-16 builder. */
  private def appendRun(s: Array[Byte], from: Int, until: Int, out: java.lang.StringBuilder): Unit = {
    var i = from
    var ascii = true
    while (i < until && ascii) { if (s(i) < 0) ascii = false else i += 1 }
    if (ascii) {
      i = from
      while (i < until) { out.append(s(i).toChar); i += 1 }
    } else out.append(new String(s, from, until - from, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Decode entities in `s[from, until)` appending the result to `out`.
    * Unknown / malformed entities are kept verbatim. Bulk-copies the
    * entity-free stretches (the common case on real pages). */
  def decodeTo(s: Array[Byte], from: Int, until: Int, out: java.lang.StringBuilder): Unit = {
    var i = from
    var runStart = from
    while (i < until) {
      if (s(i) == '&') {
        if (i > runStart) appendRun(s, runStart, i, out)
        val end = decodeOne(s, i, until, out)
        if (end > i) i = end
        else { out.append('&'); i += 1 }
        runStart = i
      } else i += 1
    }
    if (i > runStart) appendRun(s, runStart, i, out)
  }

  /** decode straight to UTF-8 (mirrors decodeTo; the extraction hot path —
    * entity-free runs are raw memcpy). */
  def decodeToUtf8(s: Array[Byte], from: Int, until: Int, out: Utf8Builder): Unit = {
    var i = from
    var runStart = from
    var tmp: java.lang.StringBuilder = null // most text runs hold no '&'
    while (i < until) {
      if (s(i) == '&') {
        if (i > runStart) out.appendBytes(s, runStart, i - runStart)
        if (tmp == null) tmp = new java.lang.StringBuilder(8) else tmp.setLength(0)
        val end = decodeOne(s, i, until, tmp)
        if (end > i) {
          var k = 0
          while (k < tmp.length) {
            val cp = tmp.codePointAt(k)
            out.appendCodePoint(cp)
            k += Character.charCount(cp)
          }
          i = end
        } else { out.appendCodePoint('&'); i += 1 }
        runStart = i
      } else i += 1
    }
    if (i > runStart) out.appendBytes(s, runStart, i - runStart)
  }

  /** Try to decode one entity starting at `i` (s(i)=='&'); returns the index
    * after the entity, or `i` if not a valid entity. Entity syntax is ASCII. */
  private def decodeOne(s: Array[Byte], i: Int, until: Int, out: java.lang.StringBuilder): Int = {
    var j = i + 1
    if (j >= until) return i
    if (s(j) == '#') {
      j += 1
      var hex = false
      if (j < until && (s(j) == 'x' || s(j) == 'X')) { hex = true; j += 1 }
      val digStart = j
      var cp = 0L
      while (j < until && isDigitOf(s(j), hex) && j - digStart < 8) {
        cp = cp * (if (hex) 16 else 10) + digitVal(s(j))
        j += 1
      }
      if (j == digStart || j >= until || s(j) != ';') return i
      if (cp <= 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) return i
      out.appendCodePoint(cp.toInt)
      j + 1
    } else {
      val nameStart = j
      while (j < until && j - nameStart < 32 && isEntityNameByte(s(j))) j += 1
      if (j == nameStart || j >= until || s(j) != ';') return i
      val name = new String(s, nameStart, j - nameStart, java.nio.charset.StandardCharsets.US_ASCII)
      val rep = named.get(name)
      if (rep == null) i
      else { out.append(rep); j + 1 }
    }
  }

  private def isEntityNameByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  private def isDigitOf(c: Byte, hex: Boolean): Boolean =
    if (hex) (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    else c >= '0' && c <= '9'
  private def digitVal(c: Byte): Int =
    if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10

  def decode(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val arr = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new java.lang.StringBuilder(s.length)
    decodeTo(arr, 0, arr.length, out)
    out.toString
  }

  /** Encode the five special characters as named entities — the observable
    * behavior of `set_text`'s `EncodeType::NamedOrDecimal` on the fixture
    * corpus (reference `src/lib.rs:260-264`, `tests/content.rs:213-235`). */
  def encodeSpecial(s: String): String = {
    var needs = false
    var i = 0
    while (i < s.length && !needs) {
      val c = s.charAt(i)
      needs = c == '&' || c == '<' || c == '>' || c == '"' || c == '\''
      i += 1
    }
    if (!needs) return s
    val out = new java.lang.StringBuilder(s.length + 16)
    i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => out.append("&amp;")
        case '<' => out.append("&lt;")
        case '>' => out.append("&gt;")
        case '"' => out.append("&quot;")
        case '\'' => out.append("&apos;")
        case c => out.append(c)
      }
      i += 1
    }
    out.toString
  }
}

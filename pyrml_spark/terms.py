"""Term-map → Spark Column compiler.

The reference evaluates term maps row-at-a-time in Python over numpy arrays
(``pyrml_api.py:222-228``, ``Expression._eval_`` per row at
``pyrml_api.py:402-454``).  Here every term map compiles to a native Spark
Column expression — template concat, URL-encoding, datatype canonicalization
and N-Triples rendering all stay inside whole-stage codegen; no Python in the
row path.

Semantics mirrored from the reference (file:line cites into /root/reference):
  * template placeholder substitution with ``\\{``/``\\}`` escapes and
    NaN→None whole-term nulling (pyrml_api.py:402-454, :432-434)
  * IRI-mode %-encoding of each placeholder value, quote(safe='')
    (pyrml_api.py:443)
  * case-insensitive column resolution fallback (pyrml_core.py:197-203,
    pyrml_api.py:664-674); missing column ⇒ NULL term (RMLTC0002c)
  * default-off IRIFY: only ``<``/``>`` escaped in IRIs (pyrml_api.py:500-538,
    IRIFY default False at pyrml_api.py:703)
  * datatype canonicalization = XSD lexical round-trip (pyrml_core.py:266-268)
  * language tags validated (pyrml_api.py:336-339); literal/lang/datatype
    selection order (pyrml_core.py:239-309)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable, List, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import rdfterms as R
from .model import FunctionCall, TermMap

XSD = R.XSD

# Template tokenizer: '\{' / '\}' are literal braces, '{name}' a placeholder.
_TMPL_TOKEN = re.compile(r"\\\{|\\\}|\{([^{}]+)\}")

IRI_VALID_RE = r'^[A-Za-z][A-Za-z0-9+.\-]*:[^\s"<>{}|\\^`]*$'
LANG_VALID_RE = r"^[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})*$"


@dataclass
class CompileCtx:
    """Per-logical-source compile context."""

    columns: Sequence[str]                       # resolved source schema
    base_iri: Optional[str] = None
    functions: Optional[object] = None           # FunctionRegistry
    column_prefix: str = ""                      # prefix for join-renamed cols
    irify: bool = False                          # PyRML.IRIFY full slug path
    dtypes: Optional[dict] = None                # column → Spark simple type
    infer_literal_datatypes: bool = False        # PyRML.INFER_LITERAL_DATATYPES


# ---------------------------------------------------------------------------
# column resolution
# ---------------------------------------------------------------------------

def resolve_column(columns: Sequence[str], name: str) -> Optional[str]:
    """Exact → lowercase → uppercase → case-insensitive (pyrml_core.py:197-203)."""
    if name in columns:
        return name
    if name.lower() in columns:
        return name.lower()
    if name.upper() in columns:
        return name.upper()
    lowered = {c.lower(): c for c in columns}
    return lowered.get(name.lower())


def _col(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def const_lit(value) -> Column:
    """``F.lit`` that remembers its Python value (``col._pyrml_const``) so
    function builders needing a non-Column argument (format patterns,
    separators, locales) can recover it without touching the private JVM
    Column API (``_jc.toString()`` breaks under Spark Connect)."""
    col = F.lit(value)
    col._pyrml_const = value
    return col


def const_value(col: Column):
    """The Python constant carried by :func:`const_lit`, else None.

    Reads the instance __dict__ directly: ``getattr`` on a pyspark Column
    never raises — ``Column.__getattr__`` fabricates a struct-field-access
    Column for any unknown name."""
    d = getattr(col, "__dict__", None)
    return d.get("_pyrml_const") if isinstance(d, dict) else None


def source_col(ctx: CompileCtx, name: str) -> Column:
    """Resolve a logical reference to a source column; missing ⇒ NULL
    (reproduces RMLTC0002c's expected-empty semantics)."""
    resolved = resolve_column(ctx.columns, ctx.column_prefix + name)
    if resolved is None and ctx.column_prefix:
        resolved = resolve_column(ctx.columns, name)
    if resolved is None:
        return F.lit(None).cast("string")
    return _col(resolved).cast("string")


# ---------------------------------------------------------------------------
# URL-encoding (match Python quote(val, safe='') — pyrml_api.py:443)
# ---------------------------------------------------------------------------

def url_encode(col: Column) -> Column:
    """Percent-encode like ``urllib.parse.quote(v, safe='')``.

    Spark's ``url_encode`` is form-encoding (Java URLEncoder): space→'+',
    keeps ``*``, encodes ``~``. Fix the three divergences JVM-side.
    """
    enc = F.url_encode(col)
    enc = F.replace(enc, F.lit("+"), F.lit("%20"))
    enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
    enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
    return enc


# Source-column Spark types whose CAST-to-string renders entirely within
# quote(safe='')'s unreserved set ([0-9A-Za-z.\-], and 'E' in float/double
# scientific notation; DATE renders as yyyy-MM-dd): percent-encoding is an
# identity on such values, so the whole UrlCodec.encode + 3-replace chain
# can be skipped at COMPILE time. Timestamps are excluded (space + ':'),
# strings obviously too.
_ENC_SAFE_TYPES = {"tinyint", "smallint", "int", "bigint",
                   "float", "double", "date"}


def _source_dtype(ctx: "CompileCtx", name: str) -> Optional[str]:
    """Spark simple type of a resolved source column (None if unknown)."""
    if not ctx.dtypes:
        return None
    resolved = resolve_column(ctx.columns, ctx.column_prefix + name)
    if resolved is None and ctx.column_prefix:
        resolved = resolve_column(ctx.columns, name)
    if resolved is None:
        return None
    return (ctx.dtypes.get(resolved) or "").lower()


def _encoding_is_identity(ctx: "CompileCtx", name: str) -> bool:
    dt = _source_dtype(ctx, name)
    return dt is not None and (dt in _ENC_SAFE_TYPES
                               or dt.startswith("decimal"))


def escape_angle(col: Column) -> Column:
    """Always-on part of TermUtils.irify (pyrml_api.py:535-537)."""
    return F.replace(F.replace(col, F.lit("<"), F.lit("%3C")),
                     F.lit(">"), F.lit("%3E"))


# transliteration standing in for unidecode (not installed): Latin-1 +
# Latin-Extended-A + Greek + Cyrillic + Arabic single-char mappings via
# translate, multi-char expansions (æ→ae, ß→ss, θ→th, ж→zh, ث→th, …) via a
# replace chain; CJK + Hebrew/Thai/Devanagari/Georgian/Armenian (r6) via
# :func:`cjk_translit`
# below (kana tables, algorithmic Hangul, common-subset pinyin — rare hanzi
# pass through, the documented remaining gap vs unidecode; the r6 scripts
# are fully enumerated per script). Greek/Cyrillic/Arabic target strings follow
# unidecode's published tables (η→e, χ→kh, щ→shch, خ→kh, ش→sh, …); Arabic
# emphatic-consonant case markers (S/D/T/Z/H) wash out in the slug's
# lowercase step, matching the reference's post-unidecode lower().
_TRANSLIT_SRC = (
    "àáâãäåèéêëìíîïòóôõöùúûüýÿñçÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÝÑÇ"
    "āăąćĉċčďđēĕėęěĝğġģĥīĭįıĵķĺļľŀłńņňŉōŏőŕŗřśŝşšţťŧũūŭůűųŵŷźżž"
    "ĀĂĄĆĈĊČĎĐĒĔĖĘĚĜĞĠĢĤĪĬĮİĴĶĹĻĽĿŁŃŅŇŌŎŐŔŖŘŚŜŞŠŢŤŦŨŪŬŮŰŲŴŶŹŻŽ"
    "αβγδεζηικλμνξοπρσςτυωάέήίόύώϊϋΐΰ"
    "ΑΒΓΔΕΖΗΙΚΛΜΝΞΟΠΡΣΤΥΩΆΈΉΊΌΎΏΪΫ"
    "абвгдезийклмнопрстуфыэёі"
    "АБВГДЕЗИЙКЛМНОПРСТУФЫЭЁІ"
    "اأإآؤئبةتجحدرزسصضطظفقكلمنهويى٠١٢٣٤٥٦٧٨٩"
)
_TRANSLIT_DST = (
    "aaaaaaeeeeiiiiooooouuuuyyncAAAAAAEEEEIIIIOOOOOUUUUYNC"
    "aaaccccddeeeeegggghiiiijklllllnnnnooorrrsssstttuuuuuuwyzzz"
    "AAACCCCDDEEEEEGGGGHIIIIJKLLLLLNNNOOORRRSSSSTTTUUUUUUWYZZZ"
    "abgdezeiklmnxoprsstuoaeeiouoiuiu"
    "ABGDEZEIKLMNXOPRSTUOAEEIOUOIU"
    "abvgdeziiklmnoprstufyeei"
    "ABVGDEZIIKLMNOPRSTUFYEEI"
    "aaiawybhtjHdrzsSDTZfqklmnhwyy0123456789"
)
# multi-char expansions (and deletions) translate() cannot express
_TRANSLIT_MULTI = [("æ", "ae"), ("Æ", "AE"), ("œ", "oe"), ("Œ", "OE"),
                   ("ß", "ss"), ("ø", "o"), ("Ø", "O"), ("ð", "d"),
                   ("Ð", "D"), ("þ", "th"), ("Þ", "Th"), ("ĳ", "ij"),
                   ("Ĳ", "IJ"),
                   # Greek digraph letters
                   ("θ", "th"), ("Θ", "Th"), ("φ", "ph"), ("Φ", "Ph"),
                   ("χ", "kh"), ("Χ", "Kh"), ("ψ", "ps"), ("Ψ", "Ps"),
                   # Cyrillic digraphs; hard/soft signs delete
                   ("ж", "zh"), ("Ж", "Zh"), ("х", "kh"), ("Х", "Kh"),
                   ("ц", "ts"), ("Ц", "Ts"), ("ч", "ch"), ("Ч", "Ch"),
                   ("щ", "shch"), ("Щ", "Shch"), ("ш", "sh"), ("Ш", "Sh"),
                   ("ю", "yu"), ("Ю", "Yu"), ("я", "ya"), ("Я", "Ya"),
                   ("ъ", ""), ("Ъ", ""), ("ь", ""), ("Ь", ""),
                   ("ї", "yi"), ("Ї", "Yi"), ("є", "ie"), ("Є", "Ie"),
                   ("ґ", "g"), ("Ґ", "G"),
                   # Arabic digraphs + hamza/ayn (→ apostrophe, stripped by
                   # the slug's punctuation removal) + short-vowel marks
                   ("ث", "th"), ("خ", "kh"), ("ذ", "dh"), ("ش", "sh"),
                   ("غ", "gh"), ("ء", "'"), ("ع", "'"),
                   ("ً", "an"), ("ٌ", "un"), ("ٍ", "in"),
                   ("َ", "a"), ("ُ", "u"), ("ِ", "i"), ("ّ", ""), ("ْ", ""),
                   # Japanese long-vowel mark + middle dot (outside the
                   # indexed kana blocks)
                   ("ー", "-"), ("・", "")]


# --- CJK transliteration (round 5, VERDICT r4 #5) -------------------------
# Kana are a fixed indexed table (per-char romaji, exactly unidecode's
# published x030 table — unidecode is per-character, so きゃ→'kiya' like
# unidecode, not contextual Hepburn 'kya'). Hangul needs NO table: a
# syllable U+AC00+((ini*21+med)*28+fin) decomposes arithmetically and is
# romanized from the 19/21/28 jamo lists (Revised Romanization). Hanzi have
# no algorithm — a common-subset pinyin map (unidecode-style 'Zhong ' with
# trailing space) covers frequent characters; the rest pass through
# (documented partial vs unidecode's full CJK tables). All of it is native
# Columns: one F.transform over F.split(col, '') — no Python in the row
# path — gated by a CJK rlike so non-CJK strings skip the char walk.
_HIRAGANA = [
    "a", "a", "i", "i", "u", "u", "e", "e", "o", "o",
    "ka", "ga", "ki", "gi", "ku", "gu", "ke", "ge", "ko", "go",
    "sa", "za", "shi", "ji", "su", "zu", "se", "ze", "so", "zo",
    "ta", "da", "chi", "ji", "tsu", "tsu", "zu", "te", "de", "to", "do",
    "na", "ni", "nu", "ne", "no",
    "ha", "ba", "pa", "hi", "bi", "pi", "fu", "bu", "pu",
    "he", "be", "pe", "ho", "bo", "po",
    "ma", "mi", "mu", "me", "mo",
    "ya", "ya", "yu", "yu", "yo", "yo",
    "ra", "ri", "ru", "re", "ro",
    "wa", "wa", "wi", "we", "wo", "n", "vu", "ka", "ke",
]  # U+3041..U+3096
_KATAKANA = _HIRAGANA + ["va", "vi", "ve", "vo"]  # U+30A1..U+30FA
# Revised-Romanization jamo (initial 19, medial 21, final 28)
_HANGUL_INI = ["g", "kk", "n", "d", "tt", "r", "m", "b", "pp", "s", "ss",
               "", "j", "jj", "ch", "k", "t", "p", "h"]
_HANGUL_MED = ["a", "ae", "ya", "yae", "eo", "e", "yeo", "ye", "o", "wa",
               "wae", "oe", "yo", "u", "wo", "we", "wi", "yu", "eu", "ui",
               "i"]
_HANGUL_FIN = ["", "g", "kk", "gs", "n", "nj", "nh", "d", "l", "lg", "lm",
               "lb", "ls", "lt", "lp", "lh", "m", "b", "bs", "s", "ss",
               "ng", "j", "ch", "k", "t", "p", "h"]
# common-subset hanzi → pinyin, unidecode-style (capitalized + trailing
# space; case washes out in the slug's lower(), the space becomes '_')
_HANZI_PINYIN = {
    "的": "De ", "一": "Yi ", "是": "Shi ", "不": "Bu ", "人": "Ren ",
    "我": "Wo ", "在": "Zai ", "有": "You ", "他": "Ta ", "这": "Zhe ",
    "中": "Zhong ", "大": "Da ", "来": "Lai ", "上": "Shang ", "国": "Guo ",
    "个": "Ge ", "到": "Dao ", "说": "Shuo ", "们": "Men ", "为": "Wei ",
    "子": "Zi ", "和": "He ", "你": "Ni ", "地": "Di ", "出": "Chu ",
    "道": "Dao ", "也": "Ye ", "时": "Shi ", "年": "Nian ", "就": "Jiu ",
    "那": "Na ", "要": "Yao ", "下": "Xia ", "以": "Yi ", "生": "Sheng ",
    "会": "Hui ", "自": "Zi ", "文": "Wen ", "日": "Ri ", "本": "Ben ",
    "语": "Yu ", "学": "Xue ", "好": "Hao ", "北": "Bei ", "京": "Jing ",
    "东": "Dong ", "西": "Xi ", "南": "Nan ", "海": "Hai ", "天": "Tian ",
    "明": "Ming ", "名": "Ming ", "字": "Zi ", "山": "Shan ", "水": "Shui ",
    "火": "Huo ", "王": "Wang ", "李": "Li ", "张": "Zhang ", "刘": "Liu ",
    "陈": "Chen ", "杨": "Yang ", "黄": "Huang ", "赵": "Zhao ",
    "周": "Zhou ", "吴": "Wu ", "城": "Cheng ", "市": "Shi ",
    "省": "Sheng ", "县": "Xian ", "区": "Qu ", "街": "Jie ", "路": "Lu ",
    "号": "Hao ", "月": "Yue ", "电": "Dian ", "话": "Hua ", "车": "Che ",
    "花": "Hua ", "白": "Bai ", "黑": "Hei ", "红": "Hong ", "金": "Jin ",
    "木": "Mu ", "土": "Tu ", "风": "Feng ", "云": "Yun ", "雨": "Yu ",
    "雪": "Xue ", "星": "Xing ", "空": "Kong ", "气": "Qi ", "心": "Xin ",
    "手": "Shou ", "口": "Kou ", "目": "Mu ", "头": "Tou ", "长": "Chang ",
    "小": "Xiao ", "多": "Duo ", "少": "Shao ", "高": "Gao ", "新": "Xin ",
    "老": "Lao ", "三": "San ", "二": "Er ", "四": "Si ", "五": "Wu ",
    "六": "Liu ", "七": "Qi ", "八": "Ba ", "九": "Jiu ", "十": "Shi ",
    "百": "Bai ", "千": "Qian ", "万": "Wan ", "零": "Ling ", "家": "Jia ",
    "门": "Men ", "开": "Kai ", "关": "Guan ", "爱": "Ai ", "朋": "Peng ",
    "友": "You ", "谢": "Xie ", "再": "Zai ", "见": "Jian ", "先": "Xian ",
    "后": "Hou ", "前": "Qian ", "外": "Wai ", "内": "Nei ", "男": "Nan ",
    "女": "Nu ", "安": "An ", "平": "Ping ", "正": "Zheng ", "方": "Fang ",
    "公": "Gong ", "司": "Si ", "业": "Ye ", "工": "Gong ", "作": "Zuo ",
    "用": "Yong ", "信": "Xin ", "息": "Xi ", "网": "Wang ", "站": "Zhan ",
    "数": "Shu ", "据": "Ju ", "库": "Ku ", "表": "Biao ", "查": "Cha ",
    "询": "Xun ",
    # frequent traditional variants
    "語": "Yu ", "東": "Dong ", "國": "Guo ", "學": "Xue ", "門": "Men ",
    "車": "Che ", "馬": "Ma ", "龍": "Long ", "鳥": "Niao ", "魚": "Yu ",
}

# r6 tier — Hebrew / Thai / Devanagari single-char romanizations
# (unidecode-style simplifications; these scripts are fully enumerable
# unlike hanzi, so the coverage is complete per script). Combining marks
# (niqqud, Thai tone marks, virama/nukta) map to "" — deletions the
# translate() pair cannot express, so they ride the same per-char map as
# the hanzi table. Hamza/ayn-like letters map to "'" which the slug's
# punctuation strip removes, matching the existing Arabic handling.
_SCRIPT_MAP = {
    # Hebrew U+05D0..U+05EA (+ finals), points U+05B0..U+05C2 delete
    "א": "'", "ב": "b", "ג": "g", "ד": "d", "ה": "h", "ו": "v", "ז": "z",
    "ח": "kh", "ט": "t", "י": "y", "ך": "k", "כ": "k", "ל": "l", "ם": "m",
    "מ": "m", "ן": "n", "נ": "n", "ס": "s", "ע": "'", "ף": "p", "פ": "p",
    "ץ": "ts", "צ": "ts", "ק": "q", "ר": "r", "ש": "sh", "ת": "t",
    "ְ": "", "ֱ": "", "ֲ": "", "ֳ": "", "ִ": "", "ֵ": "", "ֶ": "", "ַ": "",
    "ָ": "", "ֹ": "", "ֺ": "", "ֻ": "", "ּ": "", "ֽ": "", "־": "-",
    "ׁ": "", "ׂ": "", "ׇ": "", "׳": "'", "״": '"',
    # Thai consonants U+0E01.., vowels, tone marks (delete), digits
    "ก": "k", "ข": "kh", "ฃ": "kh", "ค": "kh", "ฅ": "kh", "ฆ": "kh",
    "ง": "ng", "จ": "ch", "ฉ": "ch", "ช": "ch", "ซ": "s", "ฌ": "ch",
    "ญ": "y", "ฎ": "d", "ฏ": "t", "ฐ": "th", "ฑ": "th", "ฒ": "th",
    "ณ": "n", "ด": "d", "ต": "t", "ถ": "th", "ท": "th", "ธ": "th",
    "น": "n", "บ": "b", "ป": "p", "ผ": "ph", "ฝ": "f", "พ": "ph",
    "ฟ": "f", "ภ": "ph", "ม": "m", "ย": "y", "ร": "r", "ฤ": "rue",
    "ล": "l", "ฦ": "lue", "ว": "w", "ศ": "s", "ษ": "s", "ส": "s",
    "ห": "h", "ฬ": "l", "อ": "o", "ฮ": "h",
    "ะ": "a", "ั": "a", "า": "a", "ำ": "am", "ิ": "i", "ี": "i",
    "ึ": "ue", "ื": "ue", "ุ": "u", "ู": "u", "ฺ": "", "เ": "e",
    "แ": "ae", "โ": "o", "ใ": "ai", "ไ": "ai", "ๅ": "", "ๆ": "2",
    "็": "", "่": "", "้": "", "๊": "", "๋": "", "์": "", "ํ": "",
    "๐": "0", "๑": "1", "๒": "2", "๓": "3", "๔": "4", "๕": "5",
    "๖": "6", "๗": "7", "๘": "8", "๙": "9",
    # Devanagari: independent vowels, consonants (implicit-a omitted,
    # unidecode-style), matras, signs (virama/nukta delete), digits
    "अ": "a", "आ": "aa", "इ": "i", "ई": "ii", "उ": "u", "ऊ": "uu",
    "ऋ": "r", "ऌ": "l", "ऍ": "e", "ऎ": "e", "ए": "e", "ऐ": "ai",
    "ऑ": "o", "ऒ": "o", "ओ": "o", "औ": "au",
    "क": "k", "ख": "kh", "ग": "g", "घ": "gh", "ङ": "ng", "च": "c",
    "छ": "ch", "ज": "j", "झ": "jh", "ञ": "ny", "ट": "tt", "ठ": "tth",
    "ड": "dd", "ढ": "ddh", "ण": "nn", "त": "t", "थ": "th", "द": "d",
    "ध": "dh", "न": "n", "प": "p", "फ": "ph", "ब": "b", "भ": "bh",
    "म": "m", "य": "y", "र": "r", "ल": "l", "ळ": "ll", "व": "v",
    "श": "sh", "ष": "ss", "स": "s", "ह": "h",
    "ा": "aa", "ि": "i", "ी": "ii", "ु": "u", "ू": "uu", "ृ": "r",
    "ॄ": "rr", "ॅ": "e", "ॆ": "e", "े": "e", "ै": "ai", "ॉ": "o",
    "ॊ": "o", "ो": "o", "ौ": "au", "्": "", "़": "", "ँ": "n",
    "ं": "n", "ः": "h", "ऽ": "'", "।": " ", "॥": " ",
    "०": "0", "१": "1", "२": "2", "३": "3", "४": "4", "५": "5",
    "६": "6", "७": "7", "८": "8", "९": "9",
    # Bengali U+0985.. (structurally parallel to Devanagari: implicit-a
    # omitted, matras mapped, virama/nukta delete, digits)
    "অ": "a", "আ": "aa", "ই": "i", "ঈ": "ii", "উ": "u", "ঊ": "uu",
    "ঋ": "r", "এ": "e", "ঐ": "ai", "ও": "o", "ঔ": "au",
    "ক": "k", "খ": "kh", "গ": "g", "ঘ": "gh", "ঙ": "ng", "চ": "c",
    "ছ": "ch", "জ": "j", "ঝ": "jh", "ঞ": "ny", "ট": "tt", "ঠ": "tth",
    "ড": "dd", "ঢ": "ddh", "ণ": "nn", "ত": "t", "থ": "th", "দ": "d",
    "ধ": "dh", "ন": "n", "প": "p", "ফ": "ph", "ব": "b", "ভ": "bh",
    "ম": "m", "য": "y", "র": "r", "ল": "l", "শ": "sh", "ষ": "ss",
    "স": "s", "হ": "h", "ড়": "rr", "ঢ়": "rh", "য়": "y", "ৎ": "t",
    "া": "aa", "ি": "i", "ী": "ii", "ু": "u", "ূ": "uu", "ৃ": "r",
    "ে": "e", "ৈ": "ai", "ো": "o", "ৌ": "au", "্": "", "়": "",
    "ঁ": "n", "ং": "n", "ঃ": "h", "ঽ": "'",
    "০": "0", "১": "1", "২": "2", "৩": "3", "৪": "4", "৫": "5",
    "৬": "6", "৭": "7", "৮": "8", "৯": "9",
    # Georgian (Mkhedruli U+10D0.., national-system romanization; the
    # aspiration apostrophe washes out in the slug's punctuation strip)
    "ა": "a", "ბ": "b", "გ": "g", "დ": "d", "ე": "e", "ვ": "v",
    "ზ": "z", "თ": "t", "ი": "i", "კ": "k", "ლ": "l", "მ": "m",
    "ნ": "n", "ო": "o", "პ": "p", "ჟ": "zh", "რ": "r", "ს": "s",
    "ტ": "t", "უ": "u", "ფ": "p", "ქ": "k", "ღ": "gh", "ყ": "q",
    "შ": "sh", "ჩ": "ch", "ც": "ts", "ძ": "dz", "წ": "ts", "ჭ": "ch",
    "ხ": "kh", "ჯ": "j", "ჰ": "h", "ჱ": "e", "ჲ": "y", "ჳ": "w",
    "ჴ": "kh", "ჵ": "o", "ჶ": "f",
    # Armenian U+0531..U+0587 (both cases → lowercase, the slug
    # lowercases anyway; և is the ev ligature)
    "ա": "a", "բ": "b", "գ": "g", "դ": "d", "ե": "e", "զ": "z",
    "է": "e", "ը": "y", "թ": "t", "ժ": "zh", "ի": "i", "լ": "l",
    "խ": "kh", "ծ": "ts", "կ": "k", "հ": "h", "ձ": "dz", "ղ": "gh",
    "ճ": "ch", "մ": "m", "յ": "y", "ն": "n", "շ": "sh", "ո": "o",
    "չ": "ch", "պ": "p", "ջ": "j", "ռ": "r", "ս": "s", "վ": "v",
    "տ": "t", "ր": "r", "ց": "ts", "ւ": "w", "փ": "p", "ք": "k",
    "օ": "o", "ֆ": "f", "և": "ev",
    "Ա": "a", "Բ": "b", "Գ": "g", "Դ": "d", "Ե": "e", "Զ": "z",
    "Է": "e", "Ը": "y", "Թ": "t", "Ժ": "zh", "Ի": "i", "Լ": "l",
    "Խ": "kh", "Ծ": "ts", "Կ": "k", "Հ": "h", "Ձ": "dz", "Ղ": "gh",
    "Ճ": "ch", "Մ": "m", "Յ": "y", "Ն": "n", "Շ": "sh", "Ո": "o",
    "Չ": "ch", "Պ": "p", "Ջ": "j", "Ռ": "r", "Ս": "s", "Վ": "v",
    "Տ": "t", "Ր": "r", "Ց": "ts", "Ւ": "w", "Փ": "p", "Ք": "k",
    "Օ": "o", "Ֆ": "f",
    "՚": "'", "՛": "", "՜": "", "՝": "", "՞": "", "՟": "", "ՙ": "'",
    # r7 — Sinhala (U+0D80.., own layout — NOT ISCII-aligned like the
    # four blocks derived below): ISO 15919-ish romanization, al-lakuna
    # (virama) and touching marks delete, prenasalized stops kept as
    # digraphs
    "අ": "a", "ආ": "aa", "ඇ": "ae", "ඈ": "aae", "ඉ": "i", "ඊ": "ii",
    "උ": "u", "ඌ": "uu", "ඍ": "r", "ඎ": "rr", "ඏ": "l", "ඐ": "ll",
    "එ": "e", "ඒ": "ee", "ඓ": "ai", "ඔ": "o", "ඕ": "oo", "ඖ": "au",
    "ක": "k", "ඛ": "kh", "ග": "g", "ඝ": "gh", "ඞ": "ng", "ඟ": "ng",
    "ච": "c", "ඡ": "ch", "ජ": "j", "ඣ": "jh", "ඤ": "ny", "ඥ": "gn",
    "ඦ": "nj", "ට": "tt", "ඨ": "tth", "ඩ": "dd", "ඪ": "ddh",
    "ණ": "nn", "ඬ": "nd", "ත": "t", "ථ": "th", "ද": "d", "ධ": "dh",
    "න": "n", "ඳ": "nd", "ප": "p", "ඵ": "ph", "බ": "b", "භ": "bh",
    "ම": "m", "ඹ": "mb", "ය": "y", "ර": "r", "ල": "l", "ව": "v",
    "ශ": "sh", "ෂ": "ss", "ස": "s", "හ": "h", "ළ": "ll", "ෆ": "f",
    "ා": "aa", "ැ": "ae", "ෑ": "aae", "ි": "i", "ී": "ii", "ු": "u",
    "ූ": "uu", "ෘ": "r", "ෙ": "e", "ේ": "ee", "ෛ": "ai", "ො": "o",
    "ෝ": "oo", "ෞ": "au", "ෟ": "l", "ෲ": "rr", "ෳ": "ll", "්": "",
    "ං": "n", "ඃ": "h", "෴": " ", "ඁ": "n",
    # Sinhala lith digits U+0DE6..
    "෦": "0", "෧": "1", "෨": "2", "෩": "3", "෪": "4",
    "෫": "5", "෬": "6", "෭": "7", "෮": "8", "෯": "9",
}

# r7 — Tamil / Telugu / Kannada / Malayalam, DERIVED from the Devanagari
# entries above: the Indic blocks U+0900-0D7F share one in-block layout
# by Unicode design (ISCII-1988 heritage — க U+0B95 sits at the same
# offset 0x15 as क U+0915, matras/virama/digits likewise), so each
# script's table is the Devanagari romanization re-based onto the target
# block, restricted to codepoints the target script assigns, plus
# per-script overrides for the letters Devanagari's table lacks (the
# ṟ/ḻ/ṉ row, Malayalam chillus, au-length marks, archaic Telugu ṯs/ḏz).
# Completeness per block (every assigned Lo/Mc/Mn/Nd codepoint mapped or
# consciously excluded) is pinned by test_irify.py.
def _derive_brahmic(base: int, overrides: dict) -> dict:
    import unicodedata

    out: dict = {}
    for ch, roman in list(_SCRIPT_MAP.items()):
        if len(ch) != 1:  # decomposed digraph keys (e.g. nukta forms)
            continue
        cp = ord(ch)
        if not (0x0900 <= cp <= 0x0963):  # Devanagari letters/marks only
            continue                       # (danda/digits handled below)
        tgt = chr(base + (cp - 0x0900))
        try:
            unicodedata.name(tgt)
        except ValueError:
            continue                       # offset unassigned in target
        out[tgt] = roman
    for i in range(10):                    # digits share offset 0x66..
        out[chr(base + 0x66 + i)] = str(i)
    out.update(overrides)
    return out


_SCRIPT_MAP.update(_derive_brahmic(0x0B80, {   # Tamil
    "ன": "n", "ற": "rr", "ழ": "zh", "ௐ": "om", "ௗ": "au",
}))
_SCRIPT_MAP.update(_derive_brahmic(0x0C00, {   # Telugu
    "ఱ": "rr", "ౘ": "ts", "ౙ": "dz", "ౚ": "rr", "ఴ": "zh",
    "ౕ": "", "ౖ": "",                      # length marks
    "ౠ": "r", "ౡ": "l", "ౢ": "l", "ౣ": "ll",
    "ఀ": "n", "ఄ": "n", "ౝ": "n",  # combining nasals/pollu
}))
_SCRIPT_MAP.update(_derive_brahmic(0x0C80, {   # Kannada
    "ಱ": "rr", "ೞ": "zh",
    "ೕ": "", "ೖ": "",                      # length marks
    "ೠ": "r", "ೡ": "l", "ೢ": "l", "ೣ": "ll",
    "ಀ": "n", "ೝ": "n",          # spacing candrabindu, pollu
    "ೱ": "h", "ೲ": "h",          # jihvamuliya, upadhmaniya
}))
_SCRIPT_MAP.update(_derive_brahmic(0x0D00, {   # Malayalam
    "ം": "m",                              # anusvara is m-final here
    "ഩ": "n", "റ": "rr", "ഴ": "zh", "ഺ": "tt",
    "ൗ": "au", "ൔ": "m", "ൕ": "y", "ൖ": "l",  # au mark + chillu marks
    "ൺ": "nn", "ൻ": "n", "ർ": "r", "ൽ": "l", "ൾ": "ll", "ൿ": "k",
    "ൠ": "r", "ൡ": "l", "ൢ": "l", "ൣ": "ll",
    "ഀ": "n", "ഄ": "n",          # combining/vedic anusvara
    "഻": "", "ൎ": "r", "ൟ": "ii",  # bar-virama, reph
}))
_CJK_GUARD = "[ぁ-ゖァ-ヺ一-鿿가-힣֐-״฀-๛ऀ-ॿঀ-৿஀-෿Ⴀ-ჿԱ-֏]"


def cjk_translit(col: Column) -> Column:
    """Per-character CJK + Hebrew/Thai/Devanagari romanization, all
    JVM-side: split → transform → array_join, evaluated only for strings
    the rlike guard says contain one of those scripts. Kana/hanzi and the
    r6 scripts by table lookup, Hangul by arithmetic decomposition."""
    hira = F.array(*[F.lit(x) for x in _HIRAGANA])
    kata = F.array(*[F.lit(x) for x in _KATAKANA])
    ini = F.array(*[F.lit(x) for x in _HANGUL_INI])
    med = F.array(*[F.lit(x) for x in _HANGUL_MED])
    fin = F.array(*[F.lit(x) for x in _HANGUL_FIN])
    hmap = F.create_map(*[F.lit(x)
                          for kv in {**_HANZI_PINYIN, **_SCRIPT_MAP}.items()
                          for x in kv])

    def tr(c: Column) -> Column:
        code = F.ascii(c)
        hidx = code - F.lit(0xAC00)
        return (
            F.when((code >= 0x3041) & (code <= 0x3096),
                   F.element_at(hira, code - F.lit(0x3041 - 1)))
            .when((code >= 0x30A1) & (code <= 0x30FA),
                  F.element_at(kata, code - F.lit(0x30A1 - 1)))
            .when((code >= 0xAC00) & (code <= 0xD7A3),
                  F.concat(
                      F.element_at(
                          ini, F.floor(hidx / 588).cast("int") + F.lit(1)),
                      F.element_at(
                          med,
                          F.floor((hidx % 588) / 28).cast("int") + F.lit(1)),
                      F.element_at(fin, (hidx % 28) + F.lit(1))))
            .otherwise(F.coalesce(F.element_at(hmap, c), c))
        )

    return F.when(
        col.rlike(_CJK_GUARD),
        F.array_join(F.transform(F.split(col, ""), tr), ""),
    ).otherwise(col)


def irify_full(col: Column) -> Column:
    """The PyRML.IRIFY=True slugification path (pyrml_api.py:500-538):
    transliterate → lower → strip ' ; , & " ? ! ( ) → space|/ → _ →
    collapse -/_/| runs → %3C/%3E. Applied only to strings that are not
    already http(s)/ftp URLs (the reference's URL regex guard)."""
    url_guard = col.rlike(r"(?i)^(https?|ftps?)://\S+$")
    s = F.translate(cjk_translit(col), _TRANSLIT_SRC, _TRANSLIT_DST)
    for frm, to in _TRANSLIT_MULTI:
        s = F.replace(s, F.lit(frm), F.lit(to))
    s = F.lower(s)
    s = F.regexp_replace(s, r"[';,&\"?!]", "")
    s = F.regexp_replace(s, r"[ /]", "_")
    s = F.regexp_replace(s, r"[()]", "")
    s = F.regexp_replace(s, r"-$", "")
    s = F.regexp_replace(s, r"(-)+", "_")
    s = F.regexp_replace(s, r"(_)+", "_")
    s = F.regexp_replace(s, r"(\|)+", "_")
    return escape_angle(F.when(url_guard, col).otherwise(s))


# ---------------------------------------------------------------------------
# datatype canonicalization (XSD lexical round-trip, pyrml_core.py:266-268)
# ---------------------------------------------------------------------------

_INT_TYPES = {
    "integer", "int", "long", "short", "byte", "nonNegativeInteger",
    "positiveInteger", "nonPositiveInteger", "negativeInteger",
    "unsignedLong", "unsignedInt", "unsignedShort", "unsignedByte",
}


def canonicalize_datatype(col: Column, datatype: str) -> Column:
    """Canonical XSD lexical form; uncastable values keep their lexical form."""
    local = datatype.rsplit("#", 1)[-1]
    if local in _INT_TYPES:
        cast = col.try_cast("long")
        return F.when(cast.isNotNull(), cast.cast("string")).otherwise(col)
    if local == "decimal":
        cast = col.try_cast("decimal(38,12)")
        canon = F.regexp_replace(cast.cast("string"), r"(\.\d*?)0+$", r"$1")
        canon = F.regexp_replace(canon, r"\.$", "")
        return F.when(cast.isNotNull(), canon).otherwise(col)
    if local in ("double", "float"):
        cast = col.try_cast("double")
        return F.when(cast.isNotNull(), cast.cast("string")).otherwise(col)
    if local == "boolean":
        lowered = F.lower(col)
        return (
            F.when(lowered.isin("true", "1"), F.lit("true"))
            .when(lowered.isin("false", "0"), F.lit("false"))
            .otherwise(col)
        )
    if local == "date":
        cast = col.try_cast("date")
        return F.when(cast.isNotNull(), cast.cast("string")).otherwise(col)
    if local == "dateTime":
        cast = F.try_to_timestamp(col)
        frac = F.date_format(cast, "SSSSSS")
        iso = F.concat(
            F.date_format(cast, "yyyy-MM-dd'T'HH:mm:ss"),
            F.when(frac == "000000", F.lit("")).otherwise(
                F.regexp_replace(F.concat(F.lit("."), frac), r"0+$", "")
            ),
        )
        return F.when(cast.isNotNull(), iso).otherwise(col)
    return col


# ---------------------------------------------------------------------------
# raw value + rendering
# ---------------------------------------------------------------------------

def _plain_template_parts(ctx: CompileCtx, text: str,
                          iri_mode: bool) -> List[Column]:
    parts: List[Column] = []
    pos = 0
    for m in _TMPL_TOKEN.finditer(text):
        if m.start() > pos:
            parts.append(F.lit(text[pos:m.start()]))
        tok = m.group(0)
        if tok == "\\{":
            parts.append(F.lit("{"))
        elif tok == "\\}":
            parts.append(F.lit("}"))
        else:
            name = m.group(1).strip()
            val = source_col(ctx, name)
            # numeric/date placeholders render within the unreserved set —
            # percent-encoding is an identity, skip its 4-expression chain
            # (the dominant per-row cost of IRI templates at bench scale)
            if iri_mode and not _encoding_is_identity(ctx, name):
                val = url_encode(val)
            parts.append(val)
        pos = m.end()
    if pos < len(text):
        parts.append(F.lit(text[pos:]))
    return parts


def compile_eval_ast(ctx: CompileCtx, ast) -> Column:
    """%eval:% AST → Column (T14). Functions resolved from the registry by
    registered id or IRI local name; '*' passes the whole row struct."""
    kind = ast[0]
    if kind == "call":
        if ctx.functions is None:
            raise ValueError("%eval:% used but no FunctionRegistry in ctx")
        fn = ctx.functions.resolve(ast[1])
        args = [compile_eval_ast(ctx, a) for a in ast[2]]
        return fn.build_positional(args)
    if kind == "str":
        s = ast[1]
        if "{" in s:
            parts = _plain_template_parts(ctx, s, iri_mode=False)
            return parts[0] if len(parts) == 1 else F.concat(*parts)
        return const_lit(s)
    if kind in ("num", "const"):
        return const_lit(ast[1])
    if kind == "row":
        return F.struct(*[_col(c).alias(c) for c in ctx.columns])
    raise ValueError(f"unknown eval AST node {ast!r}")


def compile_template_raw(ctx: CompileCtx, template: str, iri_mode: bool) -> Column:
    """Template → concat expression. IRI mode %-encodes each placeholder.
    A NULL placeholder nulls the whole term (concat null-propagation ==
    the reference's NaN rule at pyrml_api.py:432-434). ``%eval:fun(...)%``
    segments splice in registry-compiled function calls (T14); like the
    reference, eval results are inserted verbatim (irify-only, no
    %-encoding — Funz.eval at pyrml_api.py:119-130)."""
    from .template_expr import EVAL_RE, parse_eval

    parts: List[Column] = []
    cursor = 0
    for m in EVAL_RE.finditer(template):
        if m.start() > cursor:
            parts.extend(
                _plain_template_parts(ctx, template[cursor:m.start()], iri_mode)
            )
        parts.append(compile_eval_ast(ctx, parse_eval(m.group(1))))
        cursor = m.end()
    if cursor < len(template):
        parts.extend(_plain_template_parts(ctx, template[cursor:], iri_mode))
    if not parts:
        return F.lit("")
    return F.concat(*[p.cast("string") for p in parts]) if len(parts) > 1 \
        else parts[0].cast("string")


def raw_value(ctx: CompileCtx, tm: TermMap) -> Column:
    """The term's raw string value (pre-N-Triples rendering).

    For function maps this may be an ArrayType column (multi-valued objects,
    e.g. grel:string_split — fan-out handled by the compiler via explode)."""
    if tm.kind == "template":
        return compile_template_raw(ctx, tm.template, iri_mode=(tm.term_type == "iri"))
    if tm.kind == "reference":
        return source_col(ctx, tm.reference)
    if tm.kind == "constant":
        # literal and IRI/bnode constants alike: the bare value, with the
        # Python constant attached for builders that need a non-Column arg
        return const_lit(tm.constant[1])
    if tm.kind == "function":
        if ctx.functions is None:
            raise ValueError("function map used but no FunctionRegistry in ctx")
        return ctx.functions.compile_call(ctx, tm.function)
    raise ValueError(f"unknown term map kind {tm.kind!r}")


_SPARK_TO_XSD = {
    "tinyint": "integer", "smallint": "integer", "int": "integer",
    "bigint": "integer",
    "float": "double", "double": "double",
    "boolean": "boolean",
    "timestamp": "dateTime", "timestamp_ntz": "dateTime",
    "date": "date",
}


def infer_datatype_for(ctx: CompileCtx, tm: TermMap) -> Optional[str]:
    """XSD datatype IRI inferred from the referenced source column's Spark
    type (only for plain rml:reference object maps — templates/functions
    concatenate to string, matching the reference where str(value) drops
    the native type)."""
    if tm.kind != "reference" or not ctx.dtypes:
        return None
    resolved = resolve_column(ctx.columns, ctx.column_prefix + tm.reference) \
        or resolve_column(ctx.columns, tm.reference)
    spark_t = (ctx.dtypes.get(resolved) or "").lower()
    if spark_t.startswith("decimal"):
        return XSD + "decimal"
    local = _SPARK_TO_XSD.get(spark_t)
    return (XSD + local) if local else None


def _template_is_safe_absolute_iri(ctx: CompileCtx, tm: "TermMap") -> bool:
    """Compile-time proof that an IRI template ALWAYS renders a valid
    absolute IRI: every placeholder is a numeric/date column (rendering
    within ``[0-9A-Za-z.\\-E]`` — no whitespace, quotes, angle brackets or
    other excluded characters) and the static text, with placeholders
    substituted, full-matches IRI_VALID_RE. Then ``escape_angle`` (no
    ``<``/``>`` present), the RLIKE validity filter (always true) and base
    resolution (template is absolute) are identities and the whole
    validation chain can be dropped from the row path — it otherwise runs
    per row, twice (the null-elimination filter re-evaluates the term
    below the projection)."""
    if tm.kind != "template" or not tm.template:
        return False
    from .template_expr import EVAL_RE

    if EVAL_RE.search(tm.template):
        return False
    pos = 0
    skeleton: List[str] = []
    for m in _TMPL_TOKEN.finditer(tm.template):
        skeleton.append(tm.template[pos:m.start()])
        if m.group(0) in ("\\{", "\\}"):
            return False
        if not _encoding_is_identity(ctx, m.group(1).strip()):
            return False
        skeleton.append("0")
        pos = m.end()
    skeleton.append(tm.template[pos:])
    return re.fullmatch(IRI_VALID_RE.strip("^$"), "".join(skeleton)) is not None


def render_value(ctx: CompileCtx, tm: TermMap, raw: Column) -> Column:
    """Raw value column → N-Triples lexical form column (NULL-preserving)."""
    if tm.kind == "constant":
        # constants render driver-side, exactly once
        return F.lit(R.to_nt(tm.constant)) if raw is not None else F.lit(None)

    if tm.term_type == "iri":
        if not ctx.irify and _template_is_safe_absolute_iri(ctx, tm):
            return F.when(raw.isNull(), F.lit(None)).otherwise(
                F.concat(F.lit("<"), raw, F.lit(">"))
            )
        val = irify_full(raw) if ctx.irify else escape_angle(raw)
        if ctx.base_iri:
            # relative IRI → base + iri (pyrml_mapper.py:164-194)
            val = F.when(
                val.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), val
            ).otherwise(F.concat(F.lit(ctx.base_iri), val))
        # validity filter: invalid IRIs become NULL (dropped by D9)
        val = F.when(val.rlike(IRI_VALID_RE), val)
        return F.when(raw.isNull(), F.lit(None)).otherwise(
            F.concat(F.lit("<"), val, F.lit(">"))
        )

    if tm.term_type == "bnode":
        label = F.regexp_replace(raw, r"[^A-Za-z0-9]", "_")
        return F.when(raw.isNull(), F.lit(None)).otherwise(
            F.concat(F.lit("_:"), label)
        )

    # literal
    datatype = tm.datatype
    if (datatype is None and not tm.language and tm.language_map is None
            and ctx.infer_literal_datatypes):
        # PyRML.INFER_LITERAL_DATATYPES (reference default False,
        # pyrml_api.py:705; typing at pyrml_core.py:277-287: rdflib
        # Literal(native_value) → xsd type from the Python type,
        # np.datetime64 → xsd:dateTime). Here the SOURCE column's Spark
        # type plays the Python type's role — all-string sources (CSV,
        # like the reference's dtype=str reads) stay plain; JSON/parquet
        # native scalars get typed.
        datatype = infer_datatype_for(ctx, tm)
    lex = raw
    if datatype:
        lex = canonicalize_datatype(lex, datatype)
    quoted = F.concat(F.lit('"'), R.nt_escape(lex), F.lit('"'))
    if tm.language:
        out = F.concat(quoted, F.lit("@" + tm.language))
    elif tm.language_map is not None:
        lang = raw_value(ctx, tm.language_map)
        lang_ok = lang.isNotNull() & lang.rlike(LANG_VALID_RE)
        out = F.when(lang_ok, F.concat(quoted, F.lit("@"), lang))
    elif datatype and datatype != XSD + "string":
        out = F.concat(quoted, F.lit("^^<" + datatype + ">"))
    else:
        out = quoted
    return F.when(raw.isNull(), F.lit(None)).otherwise(out)


def compile_term(ctx: CompileCtx, tm: TermMap) -> Column:
    """TermMap → rendered N-Triples string Column (or array column for
    multi-valued function results — caller explodes)."""
    raw = raw_value(ctx, tm)
    if tm.kind == "constant":
        return F.lit(R.to_nt(tm.constant))
    return render_value(ctx, tm, raw)

"""YIVO Hebrew↔Roman transliteration.

Reimplements the semantics of the reference YivoTransliterator
(yiddish/.../YivoTransliterator.scala:14-489), itself a port of the
public github.com/ibleaman/yiddish Python project. All tables below are
linguistic data from that public project; the loshn-koydesh
(orthographic→phonetic) dictionary is a curated subset of the same
public dataset — entries needed by the reference's unit-test vectors
plus common Semitic-origin words. Custom dictionaries can be merged in
via :func:`add_loshn_koydesh`.

Pure Python; imported by pandas-UDF kernels (broadcast implicitly via
module import on executors).
"""

from __future__ import annotations

import re
from functools import lru_cache

# --- precombined/decomposed Unicode pairs (YivoTransliterator.scala:16-36) --
PRECOMBINED_PAIRS: tuple[tuple[str, str], ...] = (
    ("וּ", "וּ"),  # vov + dagesh  → melupm vov
    ("יִ", "יִ"),  # yud + khirik  → khirik yud
    ("ײַ", "ײַ"),  # tsvey yudn + pasekh → pasekh tsvey yudn
    ("וו", "װ"),  # vov vov → tsvey vovn
    ("וי", "ױ"),  # vov yud
    ("יי", "ײ"),  # tsvey yudn
    ("אַ", "אַ"),  # pasekh alef
    ("אָ", "אָ"),  # komets alef
    ("בֿ", "בֿ"),  # veys
    ("כּ", "כּ"),  # kof
    ("פּ", "פּ"),  # pey
    ("פֿ", "פֿ"),  # fey
    ("שׂ", "שׂ"),  # sin
    ("תּ", "תּ"),  # tof
)

_DECOMPOSED_PAIRS = tuple((b, a) for a, b in PRECOMBINED_PAIRS)
_VOV_YUD_PRECOMBINED = ("װ", "ױ", "ײ")
_PAIRS_WITHOUT_VOV_YUD = tuple(
    (b, a) for b, a in _DECOMPOSED_PAIRS if b not in _VOV_YUD_PRECOMBINED
)


def _replace_all(pairs, s: str) -> str:
    for find, repl in pairs:
        s = s.replace(find, repl)
    return s


def replace_with_precombined(s: str) -> str:
    """YivoTransliterator.replaceWithPrecombined (:51-55)."""
    s = _replace_all(PRECOMBINED_PAIRS, s)
    # bes-dagesh diacritic not used in YIVO (both orderings of the marks)
    return s.replace("בּ", "ב").replace("בּ", "ב")


def replace_with_decomposed(s: str, vov_yud: bool = False) -> str:
    """YivoTransliterator.replaceWithDecomposed (:58-68)."""
    pairs = _DECOMPOSED_PAIRS if vov_yud else _PAIRS_WITHOUT_VOV_YUD
    s = _replace_all(pairs, s)
    # the decomposed double-yud + pasekh exists only in this context
    s = s.replace("ייַ", "ײַ")
    return s.replace("בּ", "ב")


def replace_punctuation(s: str) -> str:
    """YivoTransliterator.replacePunctuation (:70-80)."""
    return (
        s.replace("-", "־")
        .replace("′", '"')
        .replace("׳", '"')
        .replace("″", '"')
        .replace("״", '"')
    )


# --- loshn-koydesh dictionary (curated subset; see module docstring) --------
# orthographic spelling → comma-separated phonetic respellings (first = most
# common), exactly the reference resource format
# (yiddish/src/main/resources/yiddish/orthographic-to-phonetic.txt).
_LK_RAW: dict[str, str] = {
    "אַוודאי": "אַוואַדע",
    "אמת": "עמעס",
    "אפֿשר": "עפֿשער",
    "בכלל": "ביכלאַל",
    "בעל־הבית": "באַלעבאָס",
    "בקיצור": "בעקיצער",
    "גנבֿ": "גאַנעוו",
    "געגנבֿעט": "געגאַנוועט",
    "דווקא": "דאַווקע,דאַפֿקע",
    "חבֿר": "כאָווער,כאַווער",
    "חזיר": "כאַזער",
    "חכמה": "כאַכאָמע,כאָכמע",
    "חלום": "כאָלעם",
    "חן": "כיין",
    "חתונה": "כאַסענע",
    "יום־טובֿ": "יאָנטעוו",
    "ים": "יאַם",
    "כּלה": "קאַלע",
    "כּמעט": "קימאַט",
    "להיפּוך": "לעהייפּעך",
    "לכל־הפּחות": "לעכאָלאַפּאָכעס",
    "מזל": "מאַזל",
    "מחיה": "מיכיע,מעכײַע",
    "מלחמה": "מילכאָמע",
    "ממילא": "מימיילע",
    "ממש": "מאַמעש",
    "מסתּמא": "מיסטאַמע,מיסטאָמע",
    "משפּחה": "מישפּאָכע",
    "ניפֿטר": "ניפֿטער",
    "נס": "נעס",
    "סוד": "סאָד",
    "ספֿר": "סייפֿער",
    "פּנים": "פּאָנעם",
    "קול": "קאָל",
    "רגע": "רעגע",
    "שבת": "שאַבעס",
    "שלום": "שאָלעם",
    "שעה": "שאָ",
    "תּורה": "טוירע",
    "תּמיד": "טאָמעד",
}

# load exactly like the reference (:88-99): precombine + punctuation-normalize
# both sides, split values on commas.
LK_MAP: dict[str, list[str]] = {
    replace_punctuation(replace_with_precombined(k)): [
        v for v in replace_punctuation(replace_with_precombined(vs)).split(",")
    ]
    for k, vs in _LK_RAW.items()
}

# phonetic → orthographic (:101-103); later entries win like Scala toMap
REVERSE_LK_MAP: dict[str, str] = {
    v: k for k, vs in LK_MAP.items() for v in vs
}


def add_loshn_koydesh(entries: dict[str, str]) -> None:
    """Merge extra orthographic→phonetic entries (same format as _LK_RAW)."""
    for k, vs in entries.items():
        key = replace_punctuation(replace_with_precombined(k))
        vals = replace_punctuation(replace_with_precombined(vs)).split(",")
        LK_MAP[key] = vals
        for v in vals:
            REVERSE_LK_MAP[v] = key
    transliterate.cache_clear()
    detransliterate.cache_clear()


# words spelled like Semitic words but Germanic (skip LK lookup) (:105-118)
GERMANIC_SEMITIC_HOMOGRAPHS = frozenset(
    "אין צום בין ברי מיד קין שער מעגן צו מאַנס טוען מערער".split()
)

# if the first pronunciation is one of these and another exists, prefer the
# second (:120-139)
LESS_COMMON_LK_PRONUNCIATIONS = frozenset(
    (
        "אַדױשעם כאַנוקע גדױלע כאַװײרע מיכיע כאָװער אָרעװ מאָסער כיִעס "
        "זקאָנים נעװאָלע מאַשלעם כפֿאָצים כאַכאָמע טאַנאָיִם יאָסעף "
        "יאָסעפֿס יאָסעפֿן"
    ).split()
)

# --- forward transliteration table (:141-188), applied sequentially ---------
_TRANSLIT_TABLE: tuple[tuple[str, str], ...] = (
    ("א", ""),  # shtumer alef
    ("אַ", "a"),
    ("אָ", "o"),
    ("ב", "b"),
    ("בֿ", "v"),
    ("ג", "g"),
    ("דזש", "dzh"),
    ("ד", "d"),
    ("ה", "h"),
    ("ו", "u"),
    ("וּ", "u"),
    ("װ", "v"),
    ("ױ", "oy"),
    ("זש", "zh"),
    ("ז", "z"),
    ("ח", "kh"),
    ("טש", "tsh"),
    ("ט", "t"),
    ("י", "j"),
    ("יִ", "i"),
    ("ײ", "ey"),
    ("ײַ", "ay"),
    ("כ", "kh"),
    ("כּ", "k"),
    ("ך", "kh"),
    ("ל", "l"),
    ("מ", "m"),
    ("ם", "m"),
    ("נ", "n"),
    ("ן", "n"),
    ("ס", "s"),
    ("ע", "e"),
    ("פּ", "p"),
    ("פֿ", "f"),
    ("פ", "f"),
    ("ף", "f"),
    ("צ", "ts"),
    ("ץ", "ts"),
    ("ק", "k"),
    ("ר", "r"),
    ("ש", "sh"),
    ("שׂ", "s"),
    ("תּ", "t"),
    ("ת", "s"),
    ("־", "-"),
)

# Source literals in this file may be decomposed (base + combining mark);
# the algorithm operates on precombined forms, so normalize every table at
# module load (mirrors the reference whose literals are precombined).
_TRANSLIT_TABLE = tuple(
    (replace_with_precombined(k), v) for k, v in _TRANSLIT_TABLE
)
GERMANIC_SEMITIC_HOMOGRAPHS = frozenset(
    replace_with_precombined(w) for w in GERMANIC_SEMITIC_HOMOGRAPHS
)
LESS_COMMON_LK_PRONUNCIATIONS = frozenset(
    replace_with_precombined(w) for w in LESS_COMMON_LK_PRONUNCIATIONS
)

# tokenizer char set for LK lookup (yiddishTokenizer regex, :190-191):
# base Hebrew letters + every precombined ligature + hyphen/maqaf/quote
_YIDDISH_CHARS = (
    frozenset("\u05d0\u05d1\u05d2\u05d3\u05d4\u05d5\u05d6\u05d7\u05d8"
              "\u05d9\u05db\u05da\u05dc\u05de\u05dd\u05e0\u05df\u05e1"
              "\u05e2\u05e4\u05e3\u05e6\u05e5\u05e7\u05e8\u05e9\u05ea")
    | {p for _, p in PRECOMBINED_PAIRS}
    | frozenset('-\u05be"')
)


def _yiddish_tokens(s: str):
    """Runs of Yiddish chars, single chars otherwise (regex :190-191)."""
    out: list[str] = []
    cur = ""
    for ch in s:
        if ch in _YIDDISH_CHARS:
            cur += ch
        else:
            if cur:
                out.append(cur)
                cur = ""
            out.append(ch)
    if cur:
        out.append(cur)
    return out


_J_FINAL = re.compile(r"j$")
_J_NOT_VOWEL = re.compile(r"j(?![aeiou])")


@lru_cache(maxsize=65536)
def transliterate(s: str, loshn_koydesh: bool = True) -> str:
    """Hebrew→Roman (YivoTransliterator.transliterate, :194-227)."""
    s = replace_with_precombined(s)
    if loshn_koydesh:
        parts = []
        for token in _yiddish_tokens(s):
            prons = LK_MAP.get(token)
            if prons is not None and token not in GERMANIC_SEMITIC_HOMOGRAPHS:
                if prons[0] in LESS_COMMON_LK_PRONUNCIATIONS and len(prons) > 1:
                    parts.append(prons[1].replace("־", "-"))
                else:
                    parts.append(prons[0].replace("־", "-"))
            else:
                parts.append(token)
        s = "".join(parts)
    s = _replace_all(_TRANSLIT_TABLE, s)
    s = _J_FINAL.sub("i", s)
    s = _J_NOT_VOWEL.sub("i", s)
    return s.replace("j", "y")


# --- reverse transliteration (:229-305) -------------------------------------
_REVERSE_PREFIX_RULES = (
    (re.compile(r"\bay"), "אײַ"),
    (re.compile(r"\bey"), "אײ"),
    (re.compile(r"\boy"), "אױ"),
    (re.compile(r"\bu"), "או"),
    (re.compile(r"\bi"), "אי"),
    (re.compile(r"kh\b"), "ך"),
    (re.compile(r"m\b"), "ם"),
    (re.compile(r"n\b"), "ן"),
    (re.compile(r"f\b"), "ף"),
    (re.compile(r"ts\b"), "ץ"),
)

_REVERSE_TABLE: tuple[tuple[str, str], ...] = (
    ("ayi", "ײַיִ"),
    ("eyi", "ײיִ"),
    ("oyi", "ױיִ"),
    ("ay", "ײַ"),
    ("ey", "ײ"),
    ("oy", "ױ"),
    ("zh", "זש"),
    ("kh", "כ"),
    ("sh", "ש"),
    ("ts", "צ"),
    ("ia", "יִאַ"),
    ("ai", "אַיִ"),
    ("ie", "יִע"),
    ("ei", "עיִ"),
    ("ii", "יִיִ"),
    ("io", "יִאָ"),
    ("oi", "אָיִ"),
    ("iu", "יִו"),
    ("ui", "ויִ"),
    ("iyi", "יִייִ"),
    ("yi", "ייִ"),
    ("iy", "יִי"),
    ("uvu", "וּװוּ"),
    ("uv", "וּװ"),
    ("vu", "װוּ"),
    ("uu", "וּו"),
    ("uy", "וּי"),
    ("a", "אַ"),
    ("b", "ב"),
    ("d", "ד"),
    ("e", "ע"),
    ("f", "פֿ"),
    ("g", "ג"),
    ("h", "ה"),
    ("i", "י"),
    ("k", "ק"),
    ("l", "ל"),
    ("m", "מ"),
    ("n", "נ"),
    ("o", "אָ"),
    ("p", "פּ"),
    ("r", "ר"),
    ("s", "ס"),
    ("t", "ט"),
    ("u", "ו"),
    ("v", "װ"),
    ("y", "י"),
    ("z", "ז"),
)

_REVERSE_FINAL_RULES = (
    (re.compile('ך([“"])'), "כ\\1"),
    (re.compile('ם([“"])'), "מ\\1"),
    (re.compile('ן([“"])'), "נ\\1"),
    (re.compile('ף([“"])'), "פֿ\\1"),
    (re.compile('ץ([“"])'), "צ\\1"),
    (re.compile(r"\bך"), "כ"),
    (re.compile(r"\bם"), "מ"),
    (re.compile(r"\bן"), "נ"),
    (re.compile(r"\bף"), "פֿ"),
    (re.compile(r"\bץ"), "צ"),
)

# irregular spellings applied before everything (:307-429)
_REVERSE_EXCEPTIONS = tuple(
    (re.compile(p), r)
    for p, r in (
        (r"\bfarey", "פֿאַראײ"),
        (r"\bantiintel", "אַנטיאינטעל"),
        (r"\bbizitst", "ביזאיצט"),
        (r"\boybnoy", "אױבנאױ"),
        (r"\boysib", "אױסאיב"),
        (r"geibt", "געאיבט"),
        (r"geiblt", "געאיבלט"),
        (r"tsuibn\b", "צואיבן"),
        (r"\boyseydl", "אױסאײדל"),
        (r"geeydl", "געאײדל"),
        (r"tsueydl", "צואײדל"),
        (r"\bayneyg", "אײַנאײג"),
        (r"geey", "געאײ"),
        (r"tsuey", "צואײ"),
        (r"geindlt", "געאינדלט"),
        (r"\bumoys", "אומאױס"),
        (r"\bumayn", "אומאײַנ"),
        (r"\bumeydl", "אומאײדל"),
        (r"\bumeydel", "אומאײדעל"),
        (r"\bureynikl", "אוראײניקל"),
        (r"\bbaayn", "באַאײַנ"),
        (r"geayn", "געאײַנ"),
        (r"tsuayn", "צואײַנ"),
        (r"durkhayl", "דורכאײַל"),
        (r"farbayayl", "פֿאַרבײַאײַל"),
        (r"geay", "געאײַ"),
        (r"tsuayl", "צואײַל"),
        (r"geirtst", "געאירצט"),
        (r"tsuirtsn\b", "צואירצן"),
        (r"grobayz", "גראָבאײַז"),
        (r"presayz", "פּרעסאײַז"),
        (r"halbindzl", "האַלבאינדזל"),
        (r"hinteroyg", "הינטעראױג"),
        (r"zunoyfgang", "זונאױפֿגאַנג"),
        (r"moyleyzl", "מױלאײזל"),
        (r"\bfarum", "פֿאַראומ"),
        (r"\bfarur", "פֿאַראור"),
        (r"\bforur", "פֿאָראור"),
        (r"\bfaribl", "פֿאַראיבל"),
        (r"\bfarinteres", "פֿאַראינטערעס"),
        (r"\brayon\b", "ראַיאָן"),
        (r"\brayonen\b", "ראַיאָנען"),
        (r"bayornt", "באַיאָרנט"),
        (r"bayort", "באַיאָרט"),
        (r"mayontik", "מאַיאָנטיק"),
        (r"mayontkes", "מאַיאָנטקעס"),
        (r"mayonez", "מאַיאָנעז"),
        (r"mayestet", "מאַיעסטעט"),
        (r"payats\b", "פּאַיאַץ"),
        (r"payatsn\b", "פּאַיאַצן"),
        (r"payatseve", "פּאַיאַצעװע"),
        (r"farayorik", "פֿאַראַיאָריק"),
        (r"\bkayor", "קאַיאָר"),
        (r"\bayed", "אַיעד"),
        (r"\bayo\b", "אַיאָ"),
        (r"geyogt", "געיאָגט"),
        (r"geyeg", "געיעג"),
        (r"\bgeyog\b", "געיאָג"),
        (r"geyavet", "געיאַװעט"),
        (r"geyadet", "געיאַדעט"),
        (r"geyopet", "געיאָפּעט"),
        (r"geyabede", "געיאַבעדע"),
        (r"geyakhmert", "געיאַכמערט"),
        (r"tseyakhmert", "צעיאַכמערט"),
        (r"tseyakhmet", "צעיאַכמעט"),
        (r"geyodlt", "געיאָדלט"),
        (r"geyomer", "געיאָמער"),
        (r"tseyomer", "צעיאָמער"),
        (r"geyutshet", "געיוטשעט"),
        (r"geyoyr", "געיױר"),
        (r"\bgeyet(\b|er|e|n|s|ns)", "געיעט\\1"),
        (r"geyentst", "געיענצט"),
        (r"geyenket", "געיענקעט"),
        (r"geyekt", "געיעקט"),
        (r"\bgeyert\b", "געיערט"),
        (r"pleyade", "פּלעיאַדע"),
        (r"proyekt", "פּראָיעקט"),
        (r"umloyal", "אומלאָיאַל"),
        (r"loyal", "לאָיאַל"),
        (r"paranoye", "פּאַראַנאָיע"),
        (r"tstu\b", "טסטו"),
        (r"\beltst", "עלטסט"),
        (r"\bkeltst", "קעלטסט"),
        (r"\bbalibtst", "באַליבטסט"),
        (r"\bgeburts", "געבורטס"),
        (r"\barbets", "אַרבעטס"),
        (r"\barbayts", "אַרבײַטס"),
        (r"\bdemolts", "דעמאָלטס"),
        (r"\bgots", "גאָטס"),
        (r"\bguts", "גוטס"),
        (r"\bgeshefts", "געשעפֿטס"),
        (r"(\b|ba|far|der)haltst", "\\1האַלטסט"),
        (r"\bshlekhts\b", "שלעכטס"),
        (r"(\b|tse)shpaltst", "\\1שפּאַלטסט"),
        (r"(\b|tse|far)shpreytst", "\\1שפּרײטסט"),
        (r"shpetst", "שפּעטסט"),
        (r"\brekhts\b", "רעכטס"),
        (r"du shatst", "דו שאַטסט"),
        (r"\bforverts\b", "פֿאָרװערטס"),
        (r"\bpikhol", "פּיקהאָל"),
        (r"\btsurikhalt", "צוריקהאַלט"),
        (r"\bkrikhalt", "קריקהאַלט"),
        (r"\boysh(?!ers?\b|vits(er)?\b)", "אױסה"),
        (r"\baroysh", "אַרױסה"),
    )
)

# normalize reverse-table Hebrew values to precombined form as well
_REVERSE_TABLE = tuple((k, replace_with_precombined(v)) for k, v in _REVERSE_TABLE)
_REVERSE_PREFIX_RULES = tuple(
    (p, replace_with_precombined(r)) for p, r in _REVERSE_PREFIX_RULES
)
_REVERSE_EXCEPTIONS = tuple(
    (p, replace_with_precombined(r)) for p, r in _REVERSE_EXCEPTIONS
)

# Germanic words homophonous with Semitic phonetic spellings (:431-458)
SEMITIC_GERMANIC_HOMOPHONES = frozenset(
    (
        "אָדער אױפֿן איבער אײן אים בױ דאַן װײס װעסט זאָל טאָמער טו לײען "
        "מאָגן מאַן מוטער מײַנע מע נעמען עמער פּױלן קעלער קעץ שװאַך שיִער שנײ"
    ).split()
)


def _word_tokens(s: str):
    """(?U)[\\w\\-־]+|[^\\w\\-־] (:460)."""
    from jochre3_ocr_spark.functions.jtext import is_word_char

    out: list[str] = []
    cur = ""
    for ch in s:
        if is_word_char(ch) or ch in "-־":
            cur += ch
        else:
            if cur:
                out.append(cur)
                cur = ""
            out.append(ch)
    if cur:
        out.append(cur)
    return out


@lru_cache(maxsize=65536)
def detransliterate(s: str, loshn_koydesh: bool = True) -> str:
    """Roman→Hebrew, precombined output (:464-489)."""
    s = s.lower()
    for pattern, repl in _REVERSE_EXCEPTIONS:
        s = pattern.sub(repl, s)
    for pattern, repl in _REVERSE_PREFIX_RULES:
        s = pattern.sub(repl, s)
    s = _replace_all(_REVERSE_TABLE, s)
    for pattern, repl in _REVERSE_FINAL_RULES:
        s = pattern.sub(repl, s)
    if loshn_koydesh:
        parts = []
        for token in _word_tokens(s):
            key = token.replace("-", "־")
            ortho = REVERSE_LK_MAP.get(key)
            if ortho is not None and token not in SEMITIC_GERMANIC_HOMOPHONES:
                parts.append(ortho.replace("־", "-"))
            else:
                parts.append(token)
        s = "".join(parts)
    return s

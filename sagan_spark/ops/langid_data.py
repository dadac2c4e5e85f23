"""Vendored language-ID model table for the trained path of
:func:`sagan_spark.ops.textstats.lang_id` (VERDICT r4 task #3).

Provenance: the token lists are the high-frequency FUNCTION WORDS of
each language, hand-vendored from public word-frequency lists
(Wiktionary frequency lists / Leipzig Corpora Collection frequency
data — public knowledge; no proprietary model was exported).  Each
language's tokens are ordered by approximate corpus rank and weighted
``2000 - 40·rank`` milli-units, the same rank-banded integer scheme
the previous stand-in used — a fastText-style per-token linear table
in (token, lang, weight_milli) shape, so a real lid.176 export drops
in without code changes.

Coverage: 26 languages — 20 Latin-script plus Russian / Ukrainian /
Greek / Arabic / Hebrew / Hindi in native script.  The op tokenizes
on single spaces, so space-less scripts (Thai, CJK) are NOT covered
here; the default script cascade in ``lang_id`` already routes those.
Tokens are lowercase: lowercase the text column first (or extend the
table with capitalized forms) for case-sensitive corpora.

Ambiguous function words ('de' fr/es/pt/nl, 'a' en/es/pt/it, 'in'
en/de/it/nl) appear under every language that uses them; the linear
sum disambiguates by the rest of the sentence, exactly as in any
trained linear classifier.

Accuracy envelope: ~paragraph-length running prose in the 26 covered
languages is classified reliably (pinned by real-sentence tests in
tests/test_textstats_vendored.py); single words, code, and uncovered
languages land on 'und' or a neighbor — treat per-doc labels as
signals, not ground truth, same as the default cascade.
"""

from __future__ import annotations

from sagan_spark.session import local_frame

#: lang -> high-frequency function words, approximate rank order
#: (public frequency-list data, see module docstring)
LANGID_TOKENS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "was", "for",
           "it", "with", "as", "his", "on", "be", "at", "by", "this",
           "had", "not", "are", "but", "from", "or", "have", "they"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit",
           "sich", "des", "auf", "für", "ist", "im", "dem", "nicht",
           "ein", "eine", "als", "auch", "es", "an", "werden", "aus"],
    "fr": ["de", "la", "le", "et", "les", "des", "en", "un", "du",
           "une", "que", "est", "dans", "qui", "par", "pour", "au",
           "sur", "pas", "plus", "ne", "se", "ce", "il", "sont"],
    "es": ["de", "la", "que", "el", "en", "y", "los", "se", "del",
           "las", "un", "por", "con", "una", "su", "para", "es", "al",
           "lo", "como", "más", "pero", "sus", "le", "ha"],
    "pt": ["de", "a", "o", "que", "e", "do", "da", "em", "um", "para",
           "com", "não", "uma", "os", "no", "se", "na", "por", "mais",
           "as", "dos", "como", "mas", "ao", "ele"],
    "it": ["di", "e", "il", "la", "che", "in", "un", "per", "è",
           "non", "una", "del", "con", "si", "da", "le", "dei", "al",
           "anche", "come", "della", "nel", "più", "ha", "gli"],
    "nl": ["de", "van", "het", "een", "en", "in", "is", "dat", "op",
           "te", "zijn", "voor", "met", "die", "niet", "aan", "er",
           "om", "ook", "als", "dan", "maar", "bij", "of", "uit"],
    "sv": ["och", "i", "att", "det", "som", "en", "på", "är", "av",
           "för", "med", "till", "den", "har", "de", "inte", "om",
           "ett", "han", "men", "var", "jag", "sig", "från", "vi"],
    "da": ["og", "i", "at", "det", "er", "en", "den", "til", "af",
           "på", "med", "for", "der", "de", "ikke", "har", "som",
           "et", "han", "men", "var", "om", "sig", "jeg", "kan"],
    "no": ["og", "i", "det", "er", "som", "en", "til", "av", "på",
           "for", "med", "den", "at", "har", "de", "ikke", "et",
           "om", "han", "men", "var", "seg", "fra", "vi", "kan"],
    "fi": ["ja", "on", "ei", "että", "oli", "se", "hän", "joka",
           "mutta", "niin", "kun", "myös", "sen", "ovat", "jos",
           "kuin", "mukaan", "tai", "vain", "vuonna", "ole", "voi"],
    "pl": ["i", "w", "nie", "na", "się", "z", "do", "że", "jest",
           "to", "jak", "po", "od", "za", "ale", "co", "przez", "oraz",
           "został", "tego", "dla", "przy", "tym", "być", "która"],
    "cs": ["a", "se", "v", "na", "je", "že", "s", "do", "to", "pro",
           "jako", "za", "ale", "po", "byl", "od", "jsou", "které",
           "byla", "jsem", "také", "při", "než", "podle", "však"],
    "sk": ["a", "sa", "v", "na", "je", "že", "s", "do", "to", "pre",
           "ako", "za", "ale", "po", "bol", "od", "sú", "ktoré",
           "bola", "som", "tiež", "pri", "než", "podľa", "však"],
    "ro": ["de", "și", "a", "în", "la", "cu", "pe", "care", "este",
           "din", "un", "o", "pentru", "mai", "se", "au", "nu", "sau",
           "al", "fost", "sunt", "ca", "dar", "când", "după"],
    "hu": ["a", "az", "és", "hogy", "nem", "is", "egy", "van", "volt",
           "meg", "de", "ez", "el", "csak", "ki", "még", "már",
           "vagy", "mint", "magyar", "után", "azt", "lett", "pedig"],
    "tr": ["bir", "ve", "bu", "da", "de", "için", "ile", "olarak",
           "çok", "daha", "en", "gibi", "kadar", "sonra", "ama",
           "olan", "var", "ne", "ancak", "her", "ise", "yıl"],
    "id": ["yang", "dan", "di", "ini", "itu", "dengan", "untuk",
           "dari", "pada", "tidak", "dalam", "adalah", "akan", "ke",
           "juga", "oleh", "ada", "mereka", "sebagai", "telah",
           "atau", "bisa", "karena", "saya", "kita"],
    "ca": ["de", "la", "que", "i", "el", "en", "a", "les", "dels",
           "un", "per", "amb", "una", "és", "al", "del", "es", "no",
           "més", "com", "va", "ha", "també", "seva", "però"],
    "vi": ["của", "và", "là", "có", "được", "trong", "các", "một",
           "những", "người", "cho", "không", "với", "này", "đã",
           "tại", "để", "theo", "khi", "ra", "năm", "trên"],
    "ru": ["и", "в", "не", "на", "что", "с", "по", "это", "как",
           "он", "его", "был", "из", "за", "то", "для", "она", "от",
           "но", "также", "были", "или", "году", "при", "так"],
    "uk": ["і", "в", "не", "на", "що", "з", "до", "та", "як", "він",
           "його", "був", "за", "але", "також", "від", "або", "це",
           "у", "році", "після", "який", "для", "були", "при"],
    "el": ["και", "το", "του", "της", "να", "την", "με", "τα", "που",
           "ο", "η", "των", "από", "στο", "για", "είναι", "τον",
           "στην", "δεν", "σε", "οι", "τις", "θα", "ως", "μια"],
    "ar": ["في", "من", "على", "أن", "إلى", "التي", "الذي", "عن",
           "مع", "هذا", "كان", "هذه", "أو", "بعد", "لم", "وقد",
           "كما", "بين", "ما", "عام", "ولا", "حيث", "قد", "وهو"],
    "he": ["של", "את", "על", "לא", "הוא", "עם", "זה", "גם", "היא",
           "אל", "כי", "או", "אשר", "בין", "היה", "אם", "רק", "אבל",
           "יש", "כל", "אחד", "עד", "בשנת", "כך", "הם"],
    "hi": ["के", "है", "में", "की", "का", "और", "से", "को", "पर",
           "यह", "हैं", "लिए", "एक", "था", "भी", "नहीं", "ने", "कि",
           "इस", "किया", "गया", "तो", "ही", "कर", "वह"],
}


def langid_weight_rows() -> list[tuple[str, str, int]]:
    """(token, lang, weight_milli) rows: rank-banded 2000 - 40·rank.
    ONE source of truth for the Spark DataFrame AND the DuckDB
    oracle's VALUES literal."""
    return [
        (tok, lang, 2000 - 40 * i)
        for lang, toks in LANGID_TOKENS.items()
        for i, tok in enumerate(toks)
    ]


def load_langid_weights(spark):
    """The vendored model as the (token, lang, weight_milli) frame
    :func:`sagan_spark.ops.textstats.lang_id` expects for
    ``marker_weights`` — the ``load_badwords`` loader idiom
    (ops/webclean.py): tiny table, broadcast at the join site."""
    return local_frame(
        spark, langid_weight_rows(), "token string, lang string, weight_milli long"
    )

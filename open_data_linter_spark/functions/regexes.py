"""Regex + literal-list constants (parity with reference regex.py:1-26).

Patterns are kept semantically identical to the reference, including its
quirks (documented inline), but expressed for Spark's Java regex engine
(`rlike`). The reference applies them with ``re.match`` (prefix-anchored),
so unanchored reference patterns get an explicit leading anchor where the
reference relied on match-at-start semantics.
"""

# Empty-cell markers (reference regex.py:3-4, applied via re.match in
# funcs.py:68-77). re.match means "-foo" / "ーx" / "なしでも" also count as
# empty; we keep prefix semantics with ^-anchored alternatives.
EMPTY_PATTERN = r"(?U)^(\s*$|-|ー|なし)"  # (?U): Python's \s is Unicode-aware (incl U+3000)

# Any whitespace or line break anywhere in the cell (regex.py:6).
SPACES_AND_LINE_BREAK = r"(?U)\s"

# e-Stat time-axis code: YYYY then month-ish digits (regex.py:7).
DATETIME_CODE = r"(?U)^(\d{4})[01][012]\d{4}$"  # (?U): Python \d is Unicode (full-width digits match)

# 1-4 digit integer — deliberately overbroad "christian era" (regex.py:8).
CHRISTIAN_ERA = r"(?U)^(\d{1,4})$"

# "123(note)" — bracketed annotation after a number (regex.py:9).
# Faithful quirk: the opening-bracket char class includes ')' in the
# reference; kept verbatim.
NUM_WITH_BRACKETS = r"(?U)^(\d+?)(\s*?)[\(（)](.+?)[\)）]"

# "123 456" — whitespace-joined numbers in one cell (regex.py:10).
NUM_WITH_NUM = r"(?U)^(\d+?)((\s+?)(\d+?))+?"

# number followed by a non-digit unit suffix, e.g. "1000円" (regex.py:11).
NUMBER_STRING = r"(?U)^\d+[^\d]+$"

# THE package whitespace class (not from the reference), written out
# explicitly so every engine has byte-identical semantics: Java \s
# (executor regex) is ASCII-only [ \t\n\x0B\f\r], but RE2 does NOT include
# \x0B in \s and Python's \s / str.split() are Unicode-wide (NBSP,
# ideographic space, ...). Spelling the class out removes all three
# divergences.
WS_CLASS = r"[ \t\n\x0B\f\r]"

# Digit characters per Python str.isdigit() — includes full-width ０-９
# (funcs.py:80-87); plain [0-9] would diverge on Japanese tables.
ANY_DIGIT = r"[0-9０-９]"

# 47 valid prefecture names + 46 abbreviated forms (regex.py:13-26).
VALID_PREFECTURE_NAMES = [
    "北海道", "青森県", "岩手県", "宮城県", "秋田県", "山形県", "福島県", "茨城県", "栃木県", "群馬県",
    "埼玉県", "千葉県", "東京都", "神奈川県", "新潟県", "富山県", "石川県", "福井県", "山梨県", "長野県",
    "岐阜県", "静岡県", "愛知県", "三重県", "滋賀県", "京都府", "大阪府", "兵庫県", "奈良県", "和歌山県",
    "鳥取県", "島根県", "岡山県", "広島県", "山口県", "徳島県", "香川県", "愛媛県", "高知県", "福岡県",
    "佐賀県", "長崎県", "熊本県", "大分県", "宮崎県", "鹿児島県", "沖縄県",
]
ABBREVIATED_PREFECTURE_NAMES = [
    "青森", "岩手", "宮城", "秋田", "山形", "福島", "茨城", "栃木", "群馬", "埼玉", "千葉", "東京",
    "神奈川", "新潟", "富山", "石川", "福井", "山梨", "長野", "岐阜", "静岡", "愛知", "三重", "滋賀",
    "京都", "大阪", "兵庫", "奈良", "和歌山", "鳥取", "島根", "岡山", "広島", "山口", "徳島", "香川",
    "愛媛", "高知", "福岡", "佐賀", "長崎", "熊本", "大分", "宮崎", "鹿児島", "沖縄",
]

# abbreviated prefecture name -> code, the RI dictionary behind rule 1-12
# (csv_linter.py:321-369). Codes follow JIS X 0401 ordering, which is the
# list order of VALID_PREFECTURE_NAMES (1..47); the abbreviated list aligns
# with VALID[1:] (北海道 has no abbreviation), so 青森 -> 2, ..., 沖縄 -> 47.
ABBREV_TO_CODE = {name: i + 2 for i, name in enumerate(ABBREVIATED_PREFECTURE_NAMES)}

# Japanese calendar eras accepted by jeraconv's J2W (the 5 modern eras).
# (era name, first western year). 元年 == year 1.
JP_ERAS = [
    ("明治", 1868),
    ("大正", 1912),
    ("昭和", 1926),
    ("平成", 1989),
    ("令和", 2019),
]

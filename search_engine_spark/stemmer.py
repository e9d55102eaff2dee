"""Pure-Python Porter stemmer (Porter, 1980 — public algorithm, see
https://tartarus.org/martin/PorterStemmer/). The reference indexes every
token both raw and stemmed via a Java Porter implementation
(/root/reference/src/cis5550/tools/Stemmer.java, stem() at :357); this is
an independent implementation of the same published algorithm, NOT a
translation of that file.

Used by the engine through ``tokenize._stem_udf`` (a pandas UDF over the
*distinct* vocabulary terms — never per token occurrence), by query
normalization, and by the pure-Python oracle ranker directly.
"""

from __future__ import annotations

_VOWELS = "aeiou"


def _is_cons(word: str, i: int) -> bool:
    c = word[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Number of VC sequences ([C](VC)^m[V] form)."""
    m = 0
    prev_vowel = False
    for i in range(len(stem)):
        cons = _is_cons(stem, i)
        if cons and prev_vowel:
            m += 1
        prev_vowel = not cons
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return len(word) >= 2 and word[-1] == word[-2] and _is_cons(word, len(word) - 1)


def _cvc(word: str) -> bool:
    if len(word) < 3:
        return False
    if not (_is_cons(word, len(word) - 3) and not _is_cons(word, len(word) - 2) and _is_cons(word, len(word) - 1)):
        return False
    return word[-1] not in "wxy"


def _replace(word: str, suffix: str, repl: str, min_m: int) -> str | None:
    if not word.endswith(suffix):
        return None
    stem = word[: len(word) - len(suffix)]
    if _measure(stem) > min_m:
        return stem + repl
    return word


_STEP2 = sorted(
    [
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
        ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
        ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
        ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ],
    key=lambda p: len(p[0]),
    reverse=True,
)
_STEP3 = sorted(
    [
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ],
    key=lambda p: len(p[0]),
    reverse=True,
)
_STEP4 = sorted(
    [
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ],
    key=len,
    reverse=True,
)


def porter_stem(word: str) -> str:
    if len(word) <= 2:
        return word
    w = word

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # Step 1b
    flag_1b = False
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed"):
        if _has_vowel(w[:-2]):
            w = w[:-2]
            flag_1b = True
    elif w.endswith("ing"):
        if _has_vowel(w[:-3]):
            w = w[:-3]
            flag_1b = True
    if flag_1b:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
            w = w[:-1]
        elif _measure(w) == 1 and _cvc(w):
            w += "e"

    # Step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # Step 2 (longest suffix match wins, per the published algorithm)
    for suf, repl in _STEP2:
        r = _replace(w, suf, repl, 0)
        if r is not None:
            w = r
            break

    # Step 3
    for suf, repl in _STEP3:
        r = _replace(w, suf, repl, 0)
        if r is not None:
            w = r
            break

    # Step 4
    for suf in _STEP4:
        if w.endswith(suf):
            if _measure(w[: len(w) - len(suf)]) > 1:
                w = w[: len(w) - len(suf)]
            break
    else:
        if w.endswith("ion") and len(w) > 3 and w[-4] in "st" and _measure(w[:-3]) > 1:
            w = w[:-3]

    # Step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _cvc(stem)):
            w = stem
    # Step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]

    return w

"""Pure-Python recomputation of the gold chain, and the digests the
output checks compare.

The chain follows gold_article_scoring.py as the program implements it
without NLTK: lower-case, strip a leading 'rt ', drop URLs and
non-alphanumerics, split on whitespace, drop Spark ML's default English
stop words, normalise plurals ('ies' -> 'y', a final 's' unless 'ss'),
keep tokens longer than two characters, de-duplicate in first-seen
order, and sum the term weights. Rows scoring 0 are not kept.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import re
import zipfile

from articles import TERM_WEIGHTS

_RT = re.compile(r"^rt ")
_URL = re.compile(r"(https?://)\S+")
_NON_ALNUM = re.compile(r"[^a-zA-Z0-9\s]")
_WS = re.compile(r"\s+")
_IES = re.compile(r"ies$")
_S = re.compile(r"(?<!s)s$")


@functools.lru_cache(maxsize=1)
def stopwords() -> frozenset[str]:
    """Spark ML's default English stop-word list, read from the mllib jar
    (the file StopWordsRemover loads): the one under SPARK_HOME, which the
    JVM runs, else the one shipped with pyspark."""
    import pyspark

    homes = [os.environ.get("SPARK_HOME", ""), os.path.dirname(pyspark.__file__)]
    jars = [j for h in homes if h for j in glob.glob(os.path.join(h, "jars", "spark-mllib_*.jar"))]
    with zipfile.ZipFile(jars[0]) as z:
        text = z.read("org/apache/spark/ml/feature/stopwords/english.txt").decode()
    return frozenset(text.split())


def score(parts: tuple) -> tuple[int, int, list[str]]:
    """(raw score, unique words, unique tokens) of one silver row's text."""
    words = " ".join(p for p in parts if p is not None).lower()
    s = _NON_ALNUM.sub("", _URL.sub("", _RT.sub("", words)))
    stop = stopwords()
    seen: dict[str, None] = {}
    for tok in _WS.split(s):
        if tok in stop:
            continue
        tok = _S.sub("", _IES.sub("y", tok))
        if len(tok) > 2:
            seen.setdefault(tok)
    uniq = list(seen)
    return sum(TERM_WEIGHTS.get(t, 0) for t in uniq), len(uniq), uniq


def row_digest(rows) -> tuple[int, str]:
    """Order-insensitive digest of (source_sk, raw score, unique words)
    rows: row count and the sum of per-row hashes modulo 2**64."""
    total, n = 0, 0
    for sk, raw, uniq in rows:
        h = hashlib.sha256(f"{sk}|{int(raw)}|{int(uniq)}".encode()).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
        n += 1
    return n, f"{total:016x}"


def expected_scored(gold_inputs) -> tuple[tuple[int, str], dict]:
    """Digest of the scored_articles rows the program must write, plus
    the share of kept tokens that are weighted clean-tech terms."""
    rows, tokens, hits = [], 0, 0
    for sk, parts in gold_inputs:
        raw, uniq, toks = score(parts)
        tokens += uniq
        hits += sum(1 for t in toks if t in TERM_WEIGHTS)
        if raw > 0:
            rows.append((sk, raw, uniq))
    return row_digest(rows), {"scored_term_share": hits / max(1, tokens)}

"""Plain-Python references for the SQL expression builders.

Left folds over Python floats, ``str.split``, ``hashlib.md5`` and exact
integer arithmetic — no Spark code. A builder whose values match one of
these bit for bit computes what its SQL text is meant to spell out.
Only the seeded MinHash constants are read from the engine.
"""

import hashlib
import math
import struct
from itertools import zip_longest

from toy_vector_db_spark.operators.dedup import P31, PERM_A, PERM_B


def bits(x):
    """A comparison key that tells every double apart (-0.0 from 0.0)
    and equates NaNs, recursing into lists."""
    if isinstance(x, float):
        return "nan" if math.isnan(x) else struct.pack("<d", x)
    if isinstance(x, (list, tuple)):
        return tuple(bits(v) for v in x)
    return x


def fold(a, b, term):
    """Σ term(x, y) from 0.0, left to right, in doubles; a position past
    the shorter vector adds 0.0 (Spark's zip_with pads it with null and
    the fold coalesces that to 0.0)."""
    acc = 0.0
    for x, y in zip_longest(a, b):
        acc += 0.0 if x is None or y is None else term(float(x), float(y))
    return acc


def dot(a, b):
    return fold(a, b, lambda x, y: x * y)


def magnitude(v):
    return math.sqrt(dot(v, v))


def sq_dist(a, b):
    return fold(a, b, lambda x, y: (x - y) * (x - y))


def euclidean_distance(a, b):
    return math.sqrt(sq_dist(a, b))


def cosine_similarity(a, b):
    """max(0, cos), where NaN stays NaN: SQL greatest() orders NaN above
    every number."""
    s = dot(a, b) / (magnitude(a) * magnitude(b))
    return s if math.isnan(s) else max(0.0, s)


def cosine_distance(a, b):
    return 1.0 - cosine_similarity(a, b)


def lsh_bucket(v, planes):
    """Σ 2^plane_id over the planes with dot(v, plane) > 0."""
    return sum(1 << pid for pid, pv in planes if dot(v, pv) > 0)


def _distinct(items):
    return list(dict.fromkeys(items))


def word_shingles(text, k=3):
    toks = text.split(" ")
    return _distinct(
        " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
    )


def char_ngrams(text, n=4):
    return _distinct(text[i:i + n] for i in range(len(text) - n + 1))


def md5_48(s):
    """The first 48 bits of md5(utf-8 bytes) as an int."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def shingle_hashes(shingles):
    return [md5_48(s) % P31 for s in shingles]


def minhash(hashes):
    """One value per permutation; None over an empty array (array_min)."""
    return [
        min(((a * h + b) % P31 for h in hashes), default=None)
        for a, b in zip(PERM_A, PERM_B)
    ]


def simhash(text, bits=32):
    """Bit b is set when more than half of the tokens' hashes have it."""
    hs = [md5_48(t) for t in text.split(" ")]
    return sum(
        1 << b for b in range(bits)
        if 2 * sum((h >> b) & 1 for h in hs) > len(hs)
    )

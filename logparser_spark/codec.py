"""Token <-> text codec — the pinned encoding contract (FIXTURES.md §1).

Each int32 token is the Unicode code point of one character of the log
line: ``decode(tokens) == ''.join(chr(t) for t in tokens)``. Values are
restricted to printable ASCII 32-126 by the generator, but the decoder
accepts any BMP code point.

The per-row invariant of the whole pipeline ("token-array equality") is
that ``tokens`` passes through parse -> enrich -> route byte-identical
into every sink row; the codec is only ever *read*, never rewritten.

The parse stage's batch decoder works on Arrow ListArrays
(``functions.parse._decode_list_array_to_arrow``); ``decode_tokens`` is
its permissive per-row fallback and the reference decoder in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def encode_text(text: str) -> list[int]:
    """Text -> token array (one code point per character)."""
    return [ord(c) for c in text]


def decode_tokens(tokens) -> str:
    """Token array -> text. Accepts list/ndarray. Permissive: code
    points outside chr()'s range (corrupt int32s) AND surrogates
    (U+D800-DFFF — chr() accepts them but the resulting str cannot be
    UTF-8 encoded, so it would crash the first pa.array() downstream)
    become U+FFFD so one bad row quarantines at parse time instead of
    crashing the stage."""

    def ch(t) -> str:
        try:
            t = int(t)
            if 0xD800 <= t <= 0xDFFF:
                return "�"
            return chr(t)
        except (ValueError, OverflowError):
            return "�"

    return "".join(ch(t) for t in tokens)


def encode_series(texts: pd.Series) -> pd.Series:
    """Vectorized batch encode (used by fixture generation)."""
    return texts.map(lambda s: np.frombuffer(s.encode("utf-32-le"), dtype=np.int32).tolist())

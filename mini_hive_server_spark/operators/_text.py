"""The shared tokenizer contract: ONE whitespace-split definition for
every Spark operator and its DuckDB oracle.

The split pattern is the single semantic contract between the two
engines for all text operators (dedup shingles, quality signals,
TF-IDF, BM25, packing, contamination probes, ...). It was previously
copy-pasted as module constants in five files plus ad-hoc inline
spellings in three more — the round-11 whitespace-class fix (Java's
``\\s`` includes ``\\x0B``, RE2's does not; the explicit class
``[ \\t\\n\\x0B\\f\\r]+`` is byte-identical to Java's ``\\s`` so only
the ORACLE side changed behavior, and only on vertical-tab documents)
had to sweep ~30 sites by hand. This module is the one-touch home; a
future change (e.g. adding U+0085/NBSP or a Unicode-aware class) edits
exactly these two strings.

``STOPWORDS`` is the quality-signal stopword list as an SQL IN-list
body, valid in both engines (``x IN (...)`` in Spark,
``list_contains([...], x)`` in DuckDB); the Gopher rule features, the
per-document quality signals and the quality-decile census all read it.

``WORDS_SPARK`` is a Spark SQL expression string (double-escaped: the
Python value contains ``'[ \\\\t...]+'`` which the SQL parser unescapes
before handing to the Java regex engine); ``WORDS_DUCK`` is the DuckDB
twin (single-escaped: standard SQL literals pass backslashes through to
RE2 verbatim).
"""

from __future__ import annotations

WS_CLASS_SPARK = "[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]+"
WS_CLASS_DUCK = "[ \\t\\n\\x0B\\f\\r]+"
# the same class for Python kernels (re module, actual control chars):
# Python's str.split() splits on ANY Unicode whitespace (NBSP, \x1c,
# U+2028, ...), which neither engine's class does — a Python-tokenized
# kernel must split with THIS pattern or it diverges from its own oracle
# on exotic-whitespace documents (round-12 review, the simhash kernel)
WS_CLASS_PY = "[ \t\n\x0B\f\r]+"

WORDS_SPARK = f"split(lower(trim(text)), '{WS_CLASS_SPARK}')"
WORDS_DUCK = f"regexp_split_to_array(lower(trim(text)), '{WS_CLASS_DUCK}')"

STOPWORDS = "'the','a','of','and','to'"

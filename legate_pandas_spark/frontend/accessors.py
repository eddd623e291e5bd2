"""``.str`` and ``.dt`` accessors (reference frontend/accessors.py:32-114).

Every method is a pure Catalyst expression (reference dispatches STRING_UOP /
EXTRACT_FIELD leaf tasks per call, src/string/tasks/ ~2130 LoC of C++ — all of it
replaced by built-in JVM functions here)."""

from __future__ import annotations

import pyspark.sql.functions as F

from legate_pandas_spark.frontend.dtypes import null_compare_false

_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()


def _java_pattern(pat: str, compiled) -> str:
    """Translate a Python regex for the JVM engine: demote named groups
    ``(?P<name>...)`` to plain groups (extraction is by group NUMBER) and
    rewrite named backreferences ``(?P=name)`` to numeric ``\\N`` — Java
    rejects both Python syntaxes. Shared by extractall / findall / count."""
    import re

    jpat = re.sub(r"\(\?P<[^>]+>", "(", pat)
    return re.sub(
        r"\(\?P=([^)]+)\)",
        lambda m: "\\" + str(compiled.groupindex[m.group(1)]),
        jpat,
    )


class StringMethods:
    def __init__(self, series):
        self._s = series

    def _wrap(self, col, name=None):
        return self._s._wrap(col, name)

    def _wrap_pred(self, col, name=None):
        # null-compare-false string predicates: mask TRUE proves the source
        # column non-null (feeds frame._nonnull_cols via boolean-mask filters)
        return self._s._wrap(col, name, proof=self._s._strict_cols)

    def lower(self):
        return self._wrap(F.lower(self._s._col))

    def upper(self):
        return self._wrap(F.upper(self._s._col))

    def swapcase(self):
        """Unicode swapcase: per-character case flip via a char-array
        transform with the JVM's Unicode case mapping (the old ASCII
        translate table misclassified accented/CJK-adjacent letters).
        One-char-to-many expansions work ('ß' → 'SS'); the only divergence
        from Python is titlecase codepoints (kept as-is), which have no
        single-char case image."""
        c = self._s._col
        chars = F.split(c, "")
        flipped = F.transform(
            chars,
            lambda ch: F.when(
                (ch == F.upper(ch)) & (ch != F.lower(ch)), F.lower(ch)
            )
            .when((ch == F.lower(ch)) & (ch != F.upper(ch)), F.upper(ch))
            .otherwise(ch),
        )
        return self._wrap(F.when(c.isNotNull(), F.array_join(flipped, "")))

    def contains(self, pat: str, regex: bool = False):
        """Plain-substring containment by default (reference CPU path,
        core/column.py:1040-1060); regex=True uses Java regex."""
        if regex:
            return self._wrap_pred(null_compare_false(self._s._col.rlike(pat)))
        return self._wrap_pred(null_compare_false(self._s._col.contains(pat)))

    def startswith(self, pat: str):
        return self._wrap_pred(null_compare_false(self._s._col.startswith(pat)))

    def endswith(self, pat: str):
        return self._wrap_pred(null_compare_false(self._s._col.endswith(pat)))

    def len(self):
        return self._wrap(F.length(self._s._col).cast("long"))

    def title(self):
        """Word-capitalize (pandas str.title ≈ initcap for space-delimited
        words — the reference's STRING_UOP family, core/column.py:928-1010)."""
        return self._wrap(F.initcap(self._s._col))

    def capitalize(self):
        c = self._s._col
        return self._wrap(
            F.when(
                c.isNotNull(),
                F.concat(
                    F.upper(F.substring(c, 1, 1)),
                    F.lower(F.substring(c, 2, 2147483647)),
                ),
            )
        )

    # Unicode contract (pandas parity via Java regex Unicode classes):
    # isdigit matches \p{Nd} (any script's decimal digits — Arabic-Indic,
    # Devanagari, ...); the one documented divergence from Python str.isdigit
    # is Numeric_Type=Digit codepoints OUTSIDE Nd (superscripts like '³'),
    # which Java regex cannot express. isalpha is all of \p{L} (CJK, accented
    # letters). isupper/islower require at least one CASED codepoint and use
    # the JVM's Unicode-aware case mapping.
    def isdigit(self):
        c = self._s._col
        return self._wrap_pred(
            null_compare_false((F.length(c) > 0) & c.rlike(r"^\p{Nd}+$"))
        )

    def isalpha(self):
        c = self._s._col
        return self._wrap_pred(
            null_compare_false((F.length(c) > 0) & c.rlike(r"^\p{L}+$"))
        )

    def isupper(self):
        c = self._s._col
        return self._wrap_pred(
            null_compare_false(
                c.rlike(r"[\p{Lu}\p{Ll}\p{Lt}]") & (F.upper(c) == c)
            )
        )

    def islower(self):
        c = self._s._col
        return self._wrap_pred(
            null_compare_false(
                c.rlike(r"[\p{Lu}\p{Ll}\p{Lt}]") & (F.lower(c) == c)
            )
        )

    def pad(self, width: int, side: str = "left", fillchar: str = " "):
        """pandas str.pad: strings at or above ``width`` are returned
        UNCHANGED (raw lpad/rpad would truncate them — the Python contract
        never truncates); side='both' is exactly str.center."""
        c = self._s._col
        if side == "left":
            return self._wrap(
                F.when(F.length(c) >= width, c).otherwise(F.lpad(c, width, fillchar))
            )
        if side == "right":
            return self._wrap(
                F.when(F.length(c) >= width, c).otherwise(F.rpad(c, width, fillchar))
            )
        if side == "both":
            return self.center(width, fillchar)
        raise ValueError(f"invalid side: {side}")

    def removeprefix(self, prefix: str):
        c = self._s._col
        return self._wrap(
            F.when(
                c.startswith(prefix), F.substring(c, len(prefix) + 1, 2147483647)
            ).otherwise(c)
        )

    def removesuffix(self, suffix: str):
        c = self._s._col
        return self._wrap(
            F.when(
                c.endswith(suffix),
                F.substring(c, 1, F.length(c) - len(suffix)),
            ).otherwise(c)
        )

    def casefold(self):
        return self._wrap(F.lower(self._s._col))

    def center(self, width: int, fillchar: str = " "):
        """Center-pad (pandas str.center): the left pad gets the smaller
        half, matching Python str.center."""
        ref = self._sql_ref()
        fc = fillchar.replace("'", "\\'")
        pad = f"greatest({int(width)} - length({ref}), 0)"
        # CPython str.center: left = marg//2 + (marg & width & 1) — the extra
        # char goes LEFT when margin and width are both odd
        padl = (
            f"(int(floor(({pad}) / 2)) + (({pad}) % 2) * {int(width) % 2})"
        )
        return self._wrap(
            F.expr(
                f"concat(repeat('{fc}', {padl}), {ref}, "
                f"repeat('{fc}', {pad} - {padl}))"
            )
        )

    def zfill(self, width: int):
        """Python str.zfill: zeros go AFTER a leading sign ('-1' → '-001'),
        and strings at or above ``width`` are unchanged (no truncation)."""
        c = self._s._col
        sign = F.substring(c, 1, 1)
        has_sign = sign.isin("-", "+") & (F.length(c) > 0)
        filled = F.when(
            has_sign,
            F.concat(sign, F.lpad(F.substring(c, 2, 2147483647), max(width - 1, 0), "0")),
        ).otherwise(F.lpad(c, width, "0"))
        return self._wrap(F.when(F.length(c) >= width, c).otherwise(filled))

    def strip(self, to_strip: str | None = None):
        if to_strip is None:
            return self._wrap(F.trim(self._s._col))
        return self._wrap(F.expr(f"trim(BOTH '{to_strip}' FROM {self._sql_ref()})"))

    def lstrip(self, to_strip: str | None = None):
        if to_strip is None:
            return self._wrap(F.ltrim(self._s._col))
        return self._wrap(F.expr(f"trim(LEADING '{to_strip}' FROM {self._sql_ref()})"))

    def rstrip(self, to_strip: str | None = None):
        if to_strip is None:
            return self._wrap(F.rtrim(self._s._col))
        return self._wrap(F.expr(f"trim(TRAILING '{to_strip}' FROM {self._sql_ref()})"))

    def _sql_ref(self) -> str:
        # trim(BOTH x FROM col) needs SQL text; only valid for plain column refs
        return f"`{self._s.name}`"

    def slice_replace(self, start: int = 0, stop: int | None = None, repl: str = ""):
        """Replace the [start, stop) slice with ``repl`` (pandas
        str.slice_replace) — pure substring/concat expressions; negative
        start/stop resolve against the string length like Python slices."""
        c = self._s._col
        # build via SQL so the substring length argument can be an expression
        ref = self._sql_ref()
        s_sql = str(start) if start >= 0 else f"greatest(length({ref}) + {start}, 0)"
        pre = F.expr(f"substring({ref}, 1, {s_sql})")
        if stop is None:
            post = F.lit("")
        else:
            e_sql = (
                str(stop)
                if stop >= 0
                else f"greatest(length({ref}) + {stop}, 0)"
            )
            post = F.expr(f"substring({ref}, ({e_sql}) + 1, 2147483647)")
        return self._wrap(F.when(c.isNotNull(), F.concat(pre, F.lit(repl), post)))

    def slice(self, start: int = 0, stop: int | None = None):
        """Python slice semantics incl. NEGATIVE start/stop (pandas
        str.slice): bounds are clamped against the per-row length with
        greatest/least expressions — one substring, no Python."""
        c = self._s._col
        n = F.length(c)
        if start >= 0:
            s = F.least(F.lit(start), n)
        else:
            s = F.greatest(n + start, F.lit(0))
        if stop is None:
            e = n
        elif stop >= 0:
            e = F.least(F.lit(stop), n)
        else:
            e = F.greatest(n + stop, F.lit(0))
        return self._wrap(F.substring(c, (s + 1).cast("int"), F.greatest(e - s, F.lit(0)).cast("int")))

    def replace(self, pat: str, repl: str, regex: bool = False):
        if regex:
            return self._wrap(F.regexp_replace(self._s._col, pat, repl))
        return self._wrap(F.replace(self._s._col, F.lit(pat), F.lit(repl)))

    def match(self, pat: str):
        """True if the regex matches at the START of the string (pandas
        str.match = re.match): anchored rlike, null→null like pandas."""
        return self._s._wrap(
            self._s._col.rlike(f"^(?:{pat})"), strict=self._s._strict_cols
        )

    def fullmatch(self, pat: str):
        """True if the regex matches the ENTIRE string (pandas str.fullmatch
        = re.fullmatch)."""
        return self._s._wrap(
            self._s._col.rlike(f"^(?:{pat})$"), strict=self._s._strict_cols
        )

    def ljust(self, width: int, fillchar: str = " "):
        """Left-justify = pad on the RIGHT (pandas str.ljust). rpad truncates
        longer strings, pandas doesn't — guard with a length check."""
        c = self._s._col
        return self._wrap(
            F.when(F.length(c) >= width, c).otherwise(F.rpad(c, width, fillchar))
        )

    def rjust(self, width: int, fillchar: str = " "):
        """Right-justify = pad on the LEFT (pandas str.rjust)."""
        c = self._s._col
        return self._wrap(
            F.when(F.length(c) >= width, c).otherwise(F.lpad(c, width, fillchar))
        )

    def partition(self, sep: str = " "):
        """3-column frame (before, sep, after) split at the FIRST separator;
        no separator → (whole, '', '') like pandas (pandas str.partition).
        Pure expression: instr + substring, no regex."""
        from legate_pandas_spark.frontend.frame import DataFrame

        frame = self._s._frame
        c = self._s._col
        pos = F.instr(c, sep)
        found = pos > 0
        sdf0 = frame._ordered_sdf()
        keep = list(frame._index) + [
            k for k in sdf0.columns if k.startswith("__") and k.endswith("__")
        ]
        sdf = sdf0.select(
            *[F.col(k) for k in keep],
            F.when(found, F.substring(c, 1, pos - 1)).otherwise(c).alias("0"),
            F.when(found, F.lit(sep)).otherwise(F.lit("")).alias("1"),
            F.when(
                found, F.substring(c, pos + len(sep), F.length(c))
            ).otherwise(F.lit("")).alias("2"),
        )
        return DataFrame(sdf, frame._index)

    def rsplit(self, pat: str = " ", n: int = -1):
        """Split from the RIGHT (pandas str.rsplit, literal separator): full
        split, then the leftmost len-n pieces are re-joined — same result as
        Python's rsplit for literal separators, all array expressions."""
        c = self._s._col
        arr = F.split(c, F.lit(__import__("re").escape(pat)))
        if n is None or n < 0:
            return self._wrap(arr)
        sz = F.size(arr)
        head = F.array_join(F.slice(arr, 1, sz - n), pat)
        tail = F.slice(arr, F.greatest(sz - n + 1, F.lit(1)), F.least(F.lit(n), sz - 1))
        return self._wrap(
            F.when(sz <= n + 1, arr).otherwise(
                F.concat(F.array(head), tail)
            )
        )

    def split(self, pat: str = r"\s+", expand: bool = False, n: int | None = None):
        """Split into an array column; ``expand=True`` widens into columns
        0..width-1 (width = the given ``n``+1, else ONE max-size aggregate —
        a scalar to the driver, the unavoidable schema-discovery pass pandas
        does in-memory)."""
        arr = F.split(self._s._col, pat, (n + 1) if n is not None else -1)
        if not expand:
            return self._wrap(arr)
        from legate_pandas_spark.frontend.frame import DataFrame

        frame = self._s._frame
        if n is not None:
            width = n + 1
        else:
            width = frame._sdf.agg(F.max(F.size(arr))).collect()[0][0] or 1
        sdf0 = frame._ordered_sdf()
        keep = list(frame._index) + [
            c for c in sdf0.columns if c.startswith("__") and c.endswith("__")
        ]
        sdf = sdf0.select(
            *[F.col(c) for c in keep],
            *[F.get(arr, i).alias(str(i)) for i in range(width)],
        )
        return DataFrame(sdf, frame._index)

    def get_dummies(self, sep: str = "|"):
        """One-hot indicator frame from sep-delimited values (pandas
        str.get_dummies): one column per distinct token, sorted; a null
        string yields all-zero row. Only the DISTINCT token dictionary
        reaches the driver (it must become the column schema — same bounded
        collect as module get_dummies, frontend/encode.py); the indicators
        are pure per-row array_contains expressions."""
        from legate_pandas_spark.frontend.frame import DataFrame

        frame = self._s._frame
        import re as _re

        arr = F.split(self._s._col, _re.escape(sep))
        toks = sorted(
            r["__t__"]
            for r in frame._sdf.select(F.explode(arr).alias("__t__"))
            .filter(F.col("__t__") != "")
            .distinct()
            .collect()
        )
        sdf0 = frame._ordered_sdf()
        keep = list(frame._index) + [
            c for c in sdf0.columns if c.startswith("__") and c.endswith("__")
        ]
        sdf = sdf0.select(
            *[F.col(c) for c in keep],
            *[
                F.when(F.array_contains(arr, t), 1).otherwise(0).alias(t)
                for t in toks
            ],
        )
        return DataFrame(sdf, frame._index)

    def get(self, i: int):
        """Element i of an array/split value (null when absent)."""
        return self._wrap(F.get(self._s._col, i))

    def join(self, sep: str):
        """Join array elements with a separator (pandas str.join)."""
        return self._wrap(F.array_join(self._s._col, sep))

    def cat(self, others=None, sep: str = ""):
        """Concatenate with an aligned Series (or a scalar string)."""
        return self._s._binop(
            "" if others is None else others, lambda a, b: F.concat(a, F.lit(sep), b)
        )

    def extract(self, pat: str, group: int = 1):
        """First regex group match (pandas str.extract with one group)."""
        matched = F.regexp_extract(self._s._col, pat, group)
        return self._wrap(F.when(matched == "", F.lit(None)).otherwise(matched))

    def extractall(self, pat: str):
        """All regex matches, one ROW per match (pandas str.extractall):
        returns a DataFrame indexed by (original index label or position,
        'match') with one string column per capture group — NAMED groups use
        their name as the column label (pandas), unnamed groups '0'..'g-1'.
        A non-participating optional group yields null (pandas NaN); the one
        documented divergence is a group that PARTICIPATES by matching the
        empty string, which is indistinguishable from non-participation in
        the JVM extraction and also yields null (pandas would keep '').

        JVM-side: one regexp_extract_all per group (the arrays align because
        they come from the same pattern), arrays_zip + posexplode — rows with
        no match drop out, like pandas. The reference's str surface has no
        regex extraction (SURVEY §2.8) — extension."""
        import re

        from legate_pandas_spark.frontend.frame import ROW_ORDER, DataFrame
        from legate_pandas_spark.frontend.indexing import _attach_positions
        from legate_pandas_spark.frontend.scan import _seq

        compiled = re.compile(pat)
        ngroups = compiled.groups
        if ngroups < 1:
            raise ValueError("extractall: pattern contains no capture groups")
        by_num = {num: name for name, num in compiled.groupindex.items()}
        labels = [by_num.get(i + 1, str(i)) for i in range(ngroups)]
        # Java regex rejects Python named-group syntax; extraction is by group
        # NUMBER anyway, so demote named groups to plain ones and rewrite
        # named backreferences to numeric
        jpat = _java_pattern(pat, compiled)
        s = self._s
        frame = s._frame
        if frame._index:
            idx_cols = list(frame._index)
            sdf = frame._ordered_sdf()
        else:
            pos = f"__exa_{next(_seq)}__"
            fresh = ROW_ORDER not in frame._sdf.columns
            sdf, _ = _attach_positions(
                frame._ordered_sdf(), fresh, pos_name=pos
            )
            # avoid clobbering a user column literally named 'index'
            idx_name = "index" if "index" not in frame.columns else "level_0"
            sdf = sdf.withColumn(idx_name, F.col(pos).cast("long")).drop(pos)
            idx_cols = [idx_name]
        arrs = [
            F.regexp_extract_all(s._col, F.lit(jpat), i + 1).alias(f"g{i}")
            for i in range(ngroups)
        ]
        zipped = sdf.select(*idx_cols, F.arrays_zip(*arrs).alias("__z__"))
        exploded = zipped.select(
            *idx_cols, F.posexplode(F.col("__z__")).alias("match", "__m__")
        )
        def _g(i):
            v = F.col("__m__")[f"g{i}"]
            # '' from a Java-regex group = it did not participate → null
            return F.when(v != "", v).alias(labels[i])

        out = exploded.select(
            *idx_cols,
            F.col("match").cast("long").alias("match"),
            *[_g(i) for i in range(ngroups)],
        )
        return DataFrame(out, tuple(idx_cols) + ("match",))

    def count(self, pat: str):
        """Count regex matches per value (pandas str.count). Group index 0
        (whole match) — wrapping the pattern in an extra ``(...)`` would
        renumber any backreferences inside it."""
        import re

        jpat = _java_pattern(pat, re.compile(pat))
        return self._wrap(
            F.size(F.regexp_extract_all(self._s._col, F.lit(jpat), 0)).cast("long")
        )

    def findall(self, pat: str):
        """All regex matches per value as an array column (pandas
        str.findall = re.findall per element): zero capture groups → full
        matches; exactly one group → that group's matches (Python findall
        semantics). Multi-group patterns (Python's list-of-tuples) have no
        clean Spark array type and raise — use extractall, which is the
        row-per-match superset. JVM-side regexp_extract_all, zero Python."""
        import re

        compiled = re.compile(pat)
        if compiled.groups > 1:
            raise NotImplementedError(
                "findall with >1 capture group returns tuples in pandas; "
                "use str.extractall (one row per match, one column per group)"
            )
        jpat = _java_pattern(pat, compiled)
        if compiled.groups == 1:
            return self._wrap(
                F.regexp_extract_all(self._s._col, F.lit(jpat), 1)
            )
        return self._wrap(
            F.regexp_extract_all(self._s._col, F.lit(jpat), 0)
        )

    def find(self, sub: str):
        """Position of substring (0-based; -1 if absent) — pandas str.find."""
        return self._wrap((F.instr(self._s._col, sub) - 1).cast("long"))

    def rfind(self, sub: str):
        """Position of the LAST occurrence (0-based; -1 if absent) — pandas
        str.rfind. locate() on the reversed pair finds the last match without
        regex: rfind = len(s) - loc_in_reverse - len(sub) + 1."""
        c = self._s._col
        loc = F.locate(sub[::-1], F.reverse(c))
        return self._wrap(
            F.when(loc > 0, F.length(c) - loc - (len(sub) - 1))
            .when(c.isNotNull(), F.lit(-1))  # null input propagates (pandas NaN)
            .cast("long")
        )

    def index(self, sub: str):
        """Like find but RAISES when absent (pandas str.index; the error
        surfaces at action time, when pandas would raise at compute)."""
        c = self._s._col
        pos = F.instr(c, sub)
        return self._wrap(
            F.when(pos > 0, (pos - 1).cast("long")).otherwise(
                F.raise_error(F.lit("substring not found"))
            )
        )

    def rindex(self, sub: str):
        """Like rfind but RAISES when absent (pandas str.rindex)."""
        c = self._s._col
        loc = F.locate(sub[::-1], F.reverse(c))
        return self._wrap(
            F.when(loc > 0, (F.length(c) - loc - (len(sub) - 1)).cast("long"))
            .otherwise(F.raise_error(F.lit("substring not found")))
        )

    def repeat(self, repeats: int):
        """Element-wise string repetition (pandas str.repeat, scalar form)."""
        return self._wrap(F.repeat(self._s._col, int(repeats)))

    def isdecimal(self):
        """Unicode decimal digits only (category Nd) — pandas str.isdecimal."""
        c = self._s._col
        return self._wrap_pred(
            null_compare_false((F.length(c) > 0) & c.rlike(r"^\p{Nd}+$"))
        )

    def isnumeric(self):
        """Unicode numeric characters (categories Nd/Nl/No) — pandas
        str.isnumeric (accepts e.g. superscripts and vulgar fractions that
        isdecimal rejects)."""
        c = self._s._col
        return self._wrap_pred(
            null_compare_false((F.length(c) > 0) & c.rlike(r"^\p{N}+$"))
        )

    def isspace(self):
        """Whitespace-only strings — pandas str.isspace (Unicode
        White_Space binary property, which Java regex exposes directly)."""
        c = self._s._col
        return self._wrap_pred(
            null_compare_false(
                (F.length(c) > 0) & c.rlike(r"^\p{IsWhite_Space}+$")
            )
        )

    def rpartition(self, sep: str = " "):
        """3-column frame (before, sep, after) split at the LAST separator;
        no separator → ('', '', whole) like pandas (pandas str.rpartition).
        Same instr+substring discipline as partition, on the rfind offset."""
        from legate_pandas_spark.frontend.frame import DataFrame

        frame = self._s._frame
        c = self._s._col
        loc = F.locate(sep[::-1], F.reverse(c))
        pos = F.length(c) - loc - (len(sep) - 2)  # 1-based sep start
        found = loc > 0
        sdf0 = frame._ordered_sdf()
        keep = list(frame._index) + [
            k for k in sdf0.columns if k.startswith("__") and k.endswith("__")
        ]
        sdf = sdf0.select(
            *[F.col(k) for k in keep],
            # null input propagates to all three columns (pandas NaN row)
            F.when(found, F.substring(c, 1, pos - 1))
            .when(c.isNotNull(), F.lit(""))
            .alias("0"),
            F.when(found, F.lit(sep)).when(c.isNotNull(), F.lit("")).alias("1"),
            F.when(found, F.substring(c, pos + len(sep), F.length(c)))
            .otherwise(c)
            .alias("2"),
        )
        return DataFrame(sdf, frame._index)

    def encode(self, encoding: str = "utf-8"):
        """String → bytes (pandas str.encode); utf-8/utf-16/us-ascii etc. via
        Spark's encode."""
        return self._wrap(F.encode(self._s._col, encoding))

    def decode(self, encoding: str = "utf-8"):
        """Bytes → string (pandas str.decode) via Spark's decode."""
        return self._wrap(F.decode(self._s._col, encoding))

    def translate(self, table: dict):
        """pandas str.translate: per-character mapping (str.maketrans-style
        dict of codepoint/char → char/str/None; None deletes). Compiles to a
        char-array transform against a map literal — JVM-side, no Python in
        the hot path, plan size ∝ table size (tables are tiny by nature)."""
        mapping = {}
        for k, v in table.items():
            key = chr(k) if isinstance(k, int) else k
            if v is None:
                val = ""
            else:
                val = chr(v) if isinstance(v, int) else v
            mapping[key] = val
        if not mapping:
            return self._wrap(self._s._col)
        map_expr = F.create_map(
            *[F.lit(x) for kv in mapping.items() for x in kv]
        )
        chars = F.split(self._s._col, "")
        mapped = F.transform(chars, lambda c: F.coalesce(map_expr[c], c))
        return self._wrap(F.array_join(mapped, ""))

    def wrap(self, width: int):
        """pandas str.wrap: greedy word-wrap to ``width`` columns, lines
        joined with '\\n'; interior space runs preserved within a line and
        dropped at breaks (textwrap replace/drop_whitespace). One F.aggregate
        fold over the token array — the accumulator carries (finished lines,
        current line), so the whole wrap is a single JVM expression per row.
        Documented divergences: words longer than ``width`` stay unbroken on
        their own line (textwrap's break_long_words splits them mid-word) and
        tabs count as one space (no expandtabs-to-8)."""
        if width < 1:
            raise ValueError("width must be >= 1")
        # textwrap semantics: each whitespace char becomes a space
        # (replace_whitespace), interior space RUNS are preserved within a
        # line, and whitespace is dropped at line boundaries
        # (drop_whitespace). Tokens are word + trailing-space run; the fit
        # test counts the accumulated line INCLUDING prior space runs plus
        # the bare word, exactly like textwrap's chunk filling.
        norm = F.regexp_replace(self._s._col, r"\s", " ")
        toks = F.regexp_extract_all(norm, F.lit(r"\S+ *"), 0)
        # textwrap keeps PARAGRAPH-leading whitespace when non-whitespace
        # follows (drop_whitespace's documented exception) — seed the
        # accumulator with it so it counts toward the first line's width
        lead = F.regexp_extract(norm, r"^( *)", 1)
        init = F.struct(
            F.array().cast("array<string>").alias("ls"),
            lead.alias("cur"),
        )

        def step(acc, t):
            cur, ls = acc["cur"], acc["ls"]
            wlen = F.length(F.rtrim(t))
            fits = F.length(cur) + wlen <= F.lit(width)
            # an all-whitespace finished line is dropped (textwrap)
            spill = F.when(
                F.rtrim(cur) == "", ls
            ).otherwise(F.concat(ls, F.array(F.rtrim(cur))))
            return (
                F.when(cur == "", F.struct(ls.alias("ls"), t.alias("cur")))
                .when(
                    fits,
                    F.struct(ls.alias("ls"), F.concat(cur, t).alias("cur")),
                )
                .otherwise(F.struct(spill.alias("ls"), t.alias("cur")))
            )

        done = F.aggregate(
            toks,
            init,
            step,
            lambda acc: F.when(F.rtrim(acc["cur"]) == "", acc["ls"]).otherwise(
                F.concat(acc["ls"], F.array(F.rtrim(acc["cur"])))
            ),
        )
        return self._wrap(F.array_join(done, "\n"))

    def to_datetime(self, format: str | None = None):
        return self._s.to_datetime(format)


class CategoricalMethods:
    """``.cat`` accessor (reference frontend/accessors.py:32-39; categories are
    string-only, common/types.py:181-182).

    The reference replicates the category dictionary to every node
    (ReplicatedColumn, core/column.py:1300-1341); here the dictionary is a
    lazy distinct+rank frame broadcast-joined against the data — nothing is
    collected to the driver and the plan size is independent of the category
    cardinality (a driver-compiled CASE chain would OOM on high-cardinality
    domains)."""

    _seq = __import__("itertools").count()

    def __init__(self, series):
        self._s = series

    # inferred dictionaries at or below this cardinality compile to a pure
    # array_position expression (codes fast path); above it, the distributed
    # ranked-dictionary broadcast join keeps plan size bounded
    _SMALL_DICT_MAX = 10_000

    def _dictionary(self):
        """(value, code) dictionary frame: distinct values ranked in sorted
        order via the distributed sample-sort row number (range partition +
        broadcast offset carry, frontend/scan.py:351) — the same machinery as
        vocab ranking, so even a web-scale inferred dictionary never passes
        through a single-partition window. This is the Spark analog of the
        reference's replicated dictionary column (core/column.py:1300-1341)."""
        from legate_pandas_spark.frontend import scan

        val = "__cat_val__"
        cats = (
            self._s._frame._sdf.select(self._s._col.alias(val))
            .filter(F.col(val).isNotNull())
            .distinct()
        )
        code = f"__cat_code_{next(self._seq)}__"
        ranked = scan.ordered_row_number(cats, [val], code)
        return ranked.select(val, F.col(code).cast("int").alias(code)), val, code

    @property
    def categories(self) -> list:
        if self._s._cat is not None and self._s._cat.categories is not None:
            return list(self._s._cat.categories)
        dict_df, val, _ = self._dictionary()
        return [r[val] for r in dict_df.orderBy(val).collect()]

    @property
    def codes(self):
        """int32 codes; nulls → -1 (pandas). Declared categories (an explicit
        CategoricalDtype) compile straight to an array_position expression —
        the dictionary is user-supplied, nothing touches the cluster. Inferred
        categories broadcast-join a lazy distinct+rank dictionary onto a
        derived frame (``DataFrame._with_step``; the parent frame is not
        rewritten) — zero driver collect either way."""
        if self._s._cat is not None and self._s._cat.categories is not None:
            return self._s._wrap(self._s._cat.code_expr(self._s._col))
        # Adaptive fast path (round 6): probe the inferred dictionary with an
        # early-exit LIMIT — if the domain is small (the overwhelmingly
        # common case for categoricals) we already hold ALL values, so
        # compile a pure array_position expression exactly like a declared
        # dictionary: no extra ranking jobs, no join in the plan. Only a
        # genuinely high-cardinality domain pays for the distributed
        # sample-sort ranked dictionary + broadcast join (which keeps the
        # plan size independent of cardinality — a 10M-value CASE/array
        # literal would OOM the driver).
        val = "__cat_val__"
        cats = (
            self._s._frame._sdf.select(self._s._col.alias(val))
            .filter(F.col(val).isNotNull())
            .distinct()
        )
        rows = cats.limit(self._SMALL_DICT_MAX + 1).collect()
        if len(rows) <= self._SMALL_DICT_MAX:
            categories = sorted(r[val] for r in rows)
            arr = F.lit(categories) if categories else F.array().cast("array<string>")
            return self._s._wrap(
                (
                    F.coalesce(F.array_position(arr, self._s._col), F.lit(0)) - 1
                ).cast("int")
            )
        dict_df, val, code = self._dictionary()
        src = self._s._col
        frame = self._s._frame._with_step(
            lambda sdf: sdf.join(F.broadcast(dict_df), src == F.col(val), "left").drop(val)
        )
        return self._s._wrap(F.coalesce(F.col(code), F.lit(-1)).cast("int"), frame=frame)

    # -- dictionary editing (pandas .cat mutators; all return new series) ---

    def _declared(self) -> list:
        """Materialized category list (declared, or inferred via the lazy
        dictionary — pandas always holds materialized categories)."""
        return self.categories

    def _with_meta(self, col, categories, ordered) -> "object":
        from legate_pandas_spark.frontend.dtypes import CatMeta

        out = self._s._wrap(col)
        out._cat = CatMeta(categories, ordered)
        return out

    @property
    def ordered(self) -> bool:
        return bool(self._s._cat is not None and self._s._cat.ordered)

    def as_ordered(self):
        return self._with_meta(self._s._col, self._declared(), True)

    def as_unordered(self):
        return self._with_meta(self._s._col, self._declared(), False)

    def add_categories(self, new_categories):
        """Append categories (values unchanged) — pandas cat.add_categories."""
        if isinstance(new_categories, str):
            new_categories = [new_categories]
        cats = self._declared()
        dup = set(new_categories) & set(cats)
        if dup:
            raise ValueError(
                f"new categories must not include old categories: {dup}"
            )
        return self._with_meta(
            self._s._col, cats + list(new_categories), self.ordered
        )

    def remove_categories(self, removals):
        """Drop categories; values in them become null — pandas
        cat.remove_categories."""
        if isinstance(removals, str):
            removals = [removals]
        cats = self._declared()
        bad = set(removals) - set(cats)
        if bad:
            raise ValueError(f"removals must all be in old categories: {bad}")
        keep = [c for c in cats if c not in set(removals)]
        col = F.when(self._s._col.isin(list(removals)), F.lit(None)).otherwise(
            self._s._col
        )
        return self._with_meta(col, keep, self.ordered)

    def remove_unused_categories(self):
        """Drop declared categories not present in the data (one distinct
        collect over the dictionary-sized value domain)."""
        cats = self._declared()
        val = "__cat_used__"
        used = {
            r[val]
            for r in self._s._frame._sdf.select(self._s._col.alias(val))
            .filter(F.col(val).isNotNull())
            .distinct()
            .collect()
        }
        return self._with_meta(
            self._s._col, [c for c in cats if c in used], self.ordered
        )

    def rename_categories(self, new_categories):
        """Rename categories AND the values (dict or positional list) —
        pandas cat.rename_categories."""
        cats = self._declared()
        if isinstance(new_categories, dict):
            renamed = [new_categories.get(c, c) for c in cats]
        else:
            new_categories = list(new_categories)
            if len(new_categories) != len(cats):
                raise ValueError(
                    "new categories need to have the same number of items as "
                    f"the old categories! ({len(new_categories)} vs {len(cats)})"
                )
            renamed = new_categories
        if len(set(renamed)) != len(renamed):
            raise ValueError("Categorical categories must be unique")
        mapping = {c: r for c, r in zip(cats, renamed) if c != r}
        col = self._s._col
        if mapping:
            old_arr = F.lit(list(mapping))
            new_arr = F.lit([mapping[c] for c in mapping])
            pos = F.array_position(old_arr, col)
            col = F.when(pos > 0, F.element_at(new_arr, pos.cast("int"))).otherwise(
                col
            )
        return self._with_meta(col, renamed, self.ordered)

    def reorder_categories(self, new_categories, ordered=None):
        """Same category set in a new order — pandas cat.reorder_categories."""
        cats = self._declared()
        new_categories = list(new_categories)
        if sorted(new_categories) != sorted(cats):
            raise ValueError(
                "items in new_categories are not the same as in old categories"
            )
        return self._with_meta(
            self._s._col,
            new_categories,
            self.ordered if ordered is None else bool(ordered),
        )


class DatetimeMethods:
    def __init__(self, series):
        self._s = series

    def _wrap(self, col):
        # reference EXTRACT_FIELD returns int16 (SURVEY §2.8); we use int32 —
        # Spark's native extraction width. Every dt extractor is
        # null-propagating, so strictness carries: a filter on
        # df.ts.dt.year == y proves ts non-null (frame._nonnull_cols).
        return self._s._wrap(col, strict=self._s._strict_cols)

    @property
    def _c(self):
        """Wall-clock column: tz-aware series store UTC instants plus a zone
        marker (the pandas internal representation), so local field
        extraction shifts into the carried zone first. from_utc_timestamp is
        null-propagating, so strictness provenance carries unchanged."""
        col = self._s._col
        tz = getattr(self._s, "_tz", None)
        return F.from_utc_timestamp(col, tz) if tz else col

    @property
    def tz(self):
        return getattr(self._s, "_tz", None)

    def tz_localize(self, tz):
        """Naive -> tz-aware: wall times are reinterpreted in ``tz`` and
        stored as UTC instants plus a zone marker; ``tz=None`` removes
        awareness keeping the LOCAL wall time (pandas dt.tz_localize).
        DIVERGENCE (documented): DST-nonexistent / ambiguous wall times
        resolve by the JVM zone rules (shift forward / earlier offset)
        instead of pandas' default AmbiguousTimeError raise."""
        cur = self.tz
        if tz is None:
            if cur is None:
                return self._s._wrap(self._s._col, strict=self._s._strict_cols)
            return self._s._wrap(
                F.from_utc_timestamp(self._s._col, cur),
                strict=self._s._strict_cols,
            )
        if cur is not None:
            raise TypeError("Already tz-aware, use tz_convert to convert.")
        out = self._s._wrap(
            F.to_utc_timestamp(self._s._col, str(tz)),
            strict=self._s._strict_cols,
        )
        out._tz = str(tz)
        return out

    def tz_convert(self, tz):
        """Aware -> aware in another zone (the instant is preserved — the
        stored UTC value doesn't change, only the zone marker); ``tz=None``
        converts to UTC then removes awareness (pandas dt.tz_convert)."""
        if self.tz is None:
            raise TypeError(
                "Cannot convert tz-naive timestamps, use tz_localize to localize"
            )
        out = self._s._wrap(self._s._col, strict=self._s._strict_cols)
        if tz is not None:
            out._tz = str(tz)
        return out

    @property
    def year(self):
        return self._wrap(F.year(self._c))

    @property
    def month(self):
        return self._wrap(F.month(self._c))

    @property
    def day(self):
        return self._wrap(F.dayofmonth(self._c))

    @property
    def hour(self):
        return self._wrap(F.hour(self._c))

    @property
    def minute(self):
        return self._wrap(F.minute(self._c))

    @property
    def second(self):
        return self._wrap(F.second(self._c))

    @property
    def weekday(self):
        """Monday=0 (pandas) — Spark dayofweek is Sunday=1 (SURVEY §2.8)."""
        return self._wrap(((F.dayofweek(self._c) + 5) % 7).cast("int"))

    dayofweek = weekday

    @property
    def date(self):
        return self._wrap(F.to_date(self._c))

    def floor(self, freq: str):
        """Truncate to hour/day/etc. (pandas dt.floor)."""
        from legate_pandas_spark.frontend.frame import _freq_to_interval

        unit = _freq_to_interval(freq).split()[1].rstrip("s")
        return self._restamp(F.date_trunc(unit, self._c))

    def strftime(self, fmt: str):
        """Format timestamps as strings; translates the common strftime
        directives to Spark's pattern letters (same table as to_datetime)."""
        spark_fmt = (
            fmt.replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
            .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss")
        )
        return self._s._wrap(F.date_format(self._c, spark_fmt))

    def month_name(self):
        """Full month name (pandas dt.month_name) — date_format 'MMMM'."""
        return self._s._wrap(F.date_format(self._c, "MMMM"))

    def normalize(self):
        """Midnight-truncated timestamps (pandas dt.normalize) — in LOCAL
        wall time for tz-aware series, like pandas."""
        return self._restamp(F.date_trunc("day", self._c))

    def _restamp(self, local_col):
        """Wrap a LOCAL-wall-time result back into the series' storage
        convention: tz-aware series re-store as UTC instants and keep the
        zone marker; naive series store the wall time directly."""
        tz = self.tz
        if tz is None:
            return self._s._wrap(local_col)
        out = self._s._wrap(F.to_utc_timestamp(local_col, tz))
        out._tz = tz
        return out

    def day_name(self):
        return self._s._wrap(F.date_format(self._c, "EEEE"))

    @property
    def quarter(self):
        return self._wrap(F.quarter(self._c))

    @property
    def dayofyear(self):
        return self._wrap(F.dayofyear(self._c))

    @property
    def is_month_start(self):
        return self._wrap(F.dayofmonth(self._c) == 1)

    @property
    def is_month_end(self):
        return self._wrap(F.last_day(self._c) == F.to_date(self._c))

    @property
    def days_in_month(self):
        return self._wrap(F.dayofmonth(F.last_day(self._c)))

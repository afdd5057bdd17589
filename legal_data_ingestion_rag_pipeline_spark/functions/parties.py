"""Party-string grammar -> ``array<struct<party_name, role>>``, one
Column expression and the package's only party parser.

Parity target: reference ``parse_parties`` (ingest.py:352-403).  Exact
semantics replicated (verified by golden tests in tests/test_parties.py):

- split the full string on ``[;/]`` into *sections* (``|`` is NOT a
  separator — the reference quirk is preserved byte-for-byte);
- each section trimmed; blank sections dropped;
- role = first case-insensitive parenthetical among
  ``(plaintiff|defendant|plaintiffs|defendants|third_party|intervenor|other)``,
  lowered, with one trailing ``s`` stripped;
- if a role matched, ALL non-empty parentheticals ``\\([^)]+\\)`` are
  removed from the section before name extraction; if no role matched
  the section text is kept as-is and the role defaults to ``other``;
- names = section split on ``,``, each trimmed (ends only — interior
  whitespace survives, as in Python ``str.strip``), empties dropped.

The array keeps the reference's emission order (section by section,
name by name), so ``posexplode`` yields each party's position in its
record.  Built from split/transform/filter/regexp_* only — no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

SECTION_SPLIT_RE = r"[;/]"
ROLE_RE = r"(?i)\((plaintiff|defendant|plaintiffs|defendants|third_party|intervenor|other)\)"
PAREN_RE = r"\([^)]+\)"


def parties_struct(parties_col: Column | str = "parties") -> Column:
    """Parse a parties string into ``array<struct<party_name,role>>`` in
    emission order; null in, null out."""
    c = F.col(parties_col) if isinstance(parties_col, str) else parties_col
    sections = F.filter(
        F.transform(F.split(c, SECTION_SPLIT_RE), lambda s: F.trim(s)),
        lambda s: s != "",
    )

    def section_to_pairs(s: Column) -> Column:
        role_raw = F.lower(F.regexp_extract(s, ROLE_RE, 1))
        has_role = role_raw != ""
        role = F.when(has_role, F.regexp_replace(role_raw, r"s$", "")).otherwise(
            F.lit("other")
        )
        cleaned = F.when(has_role, F.trim(F.regexp_replace(s, PAREN_RE, ""))).otherwise(s)
        names = F.filter(
            F.transform(F.split(cleaned, ","), lambda n: F.trim(n)),
            lambda n: n != "",
        )
        return F.transform(
            names,
            lambda n: F.struct(n.alias("party_name"), role.alias("role")),
        )

    return F.flatten(F.transform(sections, section_to_pairs))

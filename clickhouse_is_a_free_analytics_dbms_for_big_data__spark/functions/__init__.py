"""Column-side helpers with no CH-SQL twin.

The reference's function library itself (Functions/FunctionFactory.cpp,
SURVEY.md §2.8) lives in one place: the dialect emitters in
``dialect/functions_map.py`` plus ``translate._apply_fn``; DataFrame
callers run CH-SQL text through the translator.  What stays here has
no SQL emitter of its own:

- ``charset``: the ICU-parity convertCharset Arrow UDF;
- ``collation``: collation sort keys;
- ``dictionaries``: external-dictionary sources;
- ``exact_hash``: bit-exact scalar hash ports behind ``dialect/hash_sql``;
- ``_util``: Column let-binding helpers for ``pipeline/``.
"""

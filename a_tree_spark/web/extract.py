"""HTML -> text extraction with a byte-identical single-row oracle.

input_hint requirement: "byte-identical extracted text per url; verify
with pytest". ``extract_text`` is the reference implementation (pure
Python, one row); ``page_features`` applies the same rule over Arrow
arrays with pyarrow's RE2 kernels (no row-at-a-time Spark UDF), and is
the one extraction block of ``with_page_features`` and the fused page
kernel (web/pipeline.py).

Extraction rule (documented contract): the text is the concatenation of
the contents of all <p>...</p> spans, in document order, joined by a
single newline; no entity decoding, no whitespace normalization.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_P_SPAN = re.compile(r"<p>(.*?)</p>", re.DOTALL)

# The general extractor pattern is (?s)<p>(.*?)</p> — but lazy dot-all
# costs 2.4x more RE2 time than the 'no tags inside' form, and regex
# scanning over html is the fused kernel's single largest cost (69ms vs
# 29ms per 8k batch). The fast pattern is exact whenever it matches the
# unique <p>; rows it CAN'T represent (several <p>, or a paragraph
# containing '<', or an unclosed tag) fall back to the python oracle,
# keeping extraction byte-identical on ALL inputs.
_P_FAST_PATTERN = r"<p>(?P<t>[^<]*)</p>"
_GEO_PATTERN = r'geo\.position" content="(?P<glat>-?[0-9.]+);(?P<glon>-?[0-9.]+)"'
_TLD_PATTERN = r"^https?://[^/]*\.(?P<tld>[a-z]+)/"


def extract_text(html: bytes | str) -> str:
    """Single-row oracle."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8")
    return "\n".join(_P_SPAN.findall(html))


def page_features(html, url, fallback_counter=None):
    """(text, meta_lat, meta_lon, tld) Arrow arrays for one batch's
    ``html`` (binary or string) and ``url`` arrays.

    Multi-<p> pages can't use the single-shot RE2 extract (it returns
    the first match); those rows — detected with a vectorized count —
    fall back to the oracle ``extract_text`` row-wise, preserving the
    byte-identical contract. ``fallback_counter`` (an accumulator)
    receives the number of such rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    html = pc.cast(html, pa.string())
    text_fast = pc.struct_field(pc.extract_regex(html, _P_FAST_PATTERN), "t")
    n_p = pc.count_substring(html, "<p>")
    needs_py = pc.or_(
        pc.greater(n_p, 1),
        pc.and_(pc.equal(n_p, 1), pc.is_null(text_fast)),
    )
    text = pc.fill_null(text_fast, "")
    if pc.any(needs_py).as_py():
        if fallback_counter is not None:
            fallback_counter.add(pc.sum(pc.cast(needs_py, pa.int64())).as_py())
        py_text = text.to_pylist()
        py_html = html.to_pylist()
        for i, m in enumerate(needs_py.to_pylist()):
            if m:
                py_text[i] = extract_text(py_html[i])
        text = pa.array(py_text, type=pa.string())

    geo = pc.extract_regex(html, _GEO_PATTERN)
    meta_lat = pc.cast(pc.struct_field(geo, "glat"), pa.float64())
    meta_lon = pc.cast(pc.struct_field(geo, "glon"), pa.float64())
    tld = pc.struct_field(pc.extract_regex(url, _TLD_PATTERN), "tld")
    return text, meta_lat, meta_lon, tld


def with_page_features(pages: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """One Arrow-native pass (mapInArrow + ``page_features``) adding
    extracted_text + meta_lat/meta_lon + tld. No pandas, no per-row
    Python: regex extraction runs in Arrow's C++ compute layer
    (~10x faster than pandas .str, which object-loops). ``keep`` prunes
    the output (default: drop the heavy html payload — the extracted
    text is the content from here on)."""
    import pyarrow as pa

    if keep is None:
        keep = [f.name for f in pages.schema.fields if f.name != "html"]
    kept_fields = [pages.schema[c] for c in keep]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in kept_fields)
    schema = (
        f"{fields}, extracted_text string, meta_lat double, "
        f"meta_lon double, tld string"
    )

    def run(batches):
        for batch in batches:
            features = page_features(
                batch.column(batch.schema.get_field_index("html")),
                batch.column(batch.schema.get_field_index("url")),
            )
            arrays = [batch.column(batch.schema.get_field_index(c)) for c in keep]
            arrays += features
            names = keep + ["extracted_text", "meta_lat", "meta_lon", "tld"]
            yield pa.RecordBatch.from_arrays(
                [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a for a in arrays],
                names=names,
            )

    return pages.mapInArrow(run, schema=schema)

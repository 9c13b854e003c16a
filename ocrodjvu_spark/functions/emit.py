"""Inverse-direction and engine-adapter pandas UDFs.

* ``make_emit_hocr_udf`` — extracted_sexpr column -> hOCR markup column
  (djvu2hocr semantics; used for text-layer round-trip pipelines).
* ``make_orf_extract_udf`` / ``make_gocr_extract_udf`` — alternate input
  dialects (ocrad ORF text, gocr XML) -> the same EXTRACT_RESULT struct
  as the hOCR path, so downstream operators are dialect-agnostic.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from ..kernel import hocr_emit, sexpr
from ..kernel.engines import gocr_scan, ocrad_scan
from ..kernel.hocr import DETAILS_BY_NAME
from .extract import page_result, payload

EMIT_RESULT = StructType([
    StructField('hocr', StringType()),
    StructField('error', StringType()),
])


def make_emit_hocr_udf(uax29=None, full_document: bool = False):
    """(extracted_sexpr, page_w, page_h) -> struct(hocr, error).

    Failures are typed per-row errors (the same on-error-resume channel
    as extraction), never silent nulls.
    """

    @pandas_udf(EMIT_RESULT)
    def emit_hocr(sexprs: pd.Series, page_w: pd.Series,
                  page_h: pd.Series) -> pd.DataFrame:
        rows = []
        for s, w, h in zip(sexprs, page_w, page_h):
            if s is None:
                rows.append({'hocr': None, 'error': 'null input'})
                continue
            try:
                value = sexpr.parse(s)
                if full_document:
                    markup = hocr_emit.sexpr_to_hocr_document(
                        [(value, int(w), int(h))], uax29=uax29)
                else:
                    markup = hocr_emit.sexpr_to_hocr_page(
                        value, int(w), int(h), uax29=uax29)
                rows.append({'hocr': markup, 'error': None})
            except Exception as exc:
                rows.append({
                    'hocr': None,
                    'error': f'{type(exc).__name__}: {exc}',
                })
        return pd.DataFrame(rows, columns=['hocr', 'error'])

    return emit_hocr


def _engine_extract_udf(scan, dialect: str, name: str, details: str,
                        uax29, rotation: int, page_size):
    """Engine text column -> EXTRACT_RESULT struct column: one page per
    row, scanned by ``scan`` and tagged with ``dialect``."""
    details_level = DETAILS_BY_NAME[details]
    _, result_schema, _ = payload(True)

    def extract_engine(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            try:
                if t is None:
                    raise ValueError('null input')
                zone = scan(t, details=details_level, uax29=uax29,
                            page_size=page_size, rotation=rotation)
                rows.append({'pages': [page_result(zone)],
                             'dialect': dialect, 'error': None})
            except Exception as exc:
                rows.append({'pages': None, 'dialect': dialect,
                             'error': f'{type(exc).__name__}: {exc}'})
        return pd.DataFrame(rows, columns=['pages', 'dialect', 'error'])

    extract_engine.__name__ = name  # the UDF's name in plans and columns
    return pandas_udf(result_schema)(extract_engine)


def make_orf_extract_udf(details: str = 'words', uax29=None,
                         rotation: int = 0, page_size=(1000, 1000)):
    """ocrad ORF text column -> EXTRACT_RESULT struct column."""
    return _engine_extract_udf(ocrad_scan, 'ocrad', 'extract_orf',
                               details, uax29, rotation, page_size)


def make_gocr_extract_udf(details: str = 'words', uax29=None,
                          rotation: int = 0, page_size=(1000, 1000)):
    """gocr XML text column -> EXTRACT_RESULT struct column."""
    return _engine_extract_udf(gocr_scan, 'gocr', 'extract_gocr',
                               details, uax29, rotation, page_size)

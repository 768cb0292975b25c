"""NMEA-0183 sentence expressions (SURVEY.md §2 A6-A10).

Reference semantics (hello.py:69-96):

- a record whose decoded ``data`` is *itself* valid base64 is "double
  encoded"; decoding again yields a proprietary NMEA sentence.
- sentences containing ``$PIMD8`` or ``$PIMD9`` are *sensor* messages; other
  double-encoded payloads are *unknown*; single-encoded JSON is *SOH*.
- ``$PIMD8`` is comma-positional: index 5 = latitude (unsigned decimal
  string), index 6 starts with N/S, index 7 = longitude, index 8 starts with
  E/W (hello.py:81-89).

Sign-fix deviation (SURVEY.md §7.5.1): the reference uses ``elif`` so a
Southern-hemisphere record never gets a W longitude negated (hello.py:85-89).
The engine default applies both fixes independently (correct semantics);
``*_reference_compat`` variants reproduce the reference bug bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schemas import CLASS_SENSOR, CLASS_SOH, CLASS_UNKNOWN
from .base64_fns import is_base64, unbase64_str


def nmea_tokens(sentence: Column | str) -> Column:
    """Split an NMEA sentence on ',' into positional tokens
    (reference: hello.py:19-24,81)."""
    c = F.col(sentence) if isinstance(sentence, str) else sentence
    return F.split(c, ",")


def _contains_pimd(sentence: Column) -> Column:
    # reference: hello.py:73 — substring test on the json.dumps'd payload;
    # contains() on the sentence itself is equivalent for classification.
    return sentence.contains("$PIMD8") | sentence.contains("$PIMD9")


def classify_payload(data_b64: Column | str) -> Column:
    """3-way message classification (reference: hello.py:69,73,121,128).

    ``data_b64`` is the envelope's base64 ``data`` field.  Decode once; if
    the result is itself valid base64 the record is double-encoded → decode
    again and test for $PIMD8/$PIMD9 (sensor) else unknown; otherwise SOH.
    """
    c = F.col(data_b64) if isinstance(data_b64, str) else data_b64
    once = unbase64_str(c)
    twice = unbase64_str(once)
    return (
        F.when(
            is_base64(once),
            F.when(_contains_pimd(twice), F.lit(CLASS_SENSOR)).otherwise(
                F.lit(CLASS_UNKNOWN)
            ),
        )
        .otherwise(F.lit(CLASS_SOH))
    )


def _signed(value_token: Column, hemi_token: Column, neg_initial: str) -> Column:
    # reference: hello.py:85-89 — prefix '-' when the hemisphere token's
    # first char matches, then float().  try_cast keeps ANSI-mode safety.
    signed_str = F.when(
        F.substring(hemi_token, 1, 1) == neg_initial,
        F.concat(F.lit("-"), value_token),
    ).otherwise(value_token)
    return signed_str.try_cast("double")


def signed_latitude(tokens: Column) -> Column:
    """Signed latitude from $PIMD8 tokens: index 5 value, index 6 hemisphere
    (reference: hello.py:82,85-86). element_at is 1-based → positions 6/7."""
    return _signed(F.try_element_at(tokens, F.lit(6)), F.try_element_at(tokens, F.lit(7)), "S")


def signed_longitude(tokens: Column) -> Column:
    """Signed longitude from $PIMD8 tokens: index 7 value, index 8 hemisphere
    (reference: hello.py:83,87-89), applied independently of the latitude fix
    (engine-correct semantics, SURVEY.md §7.5.1)."""
    return _signed(F.try_element_at(tokens, F.lit(8)), F.try_element_at(tokens, F.lit(9)), "W")


def signed_longitude_reference_compat(tokens: Column) -> Column:
    """Bit-for-bit reference behavior including the ``elif`` bug
    (hello.py:85-89): W-longitude is negated ONLY when latitude was not S."""
    lat_was_south = F.substring(F.try_element_at(tokens, F.lit(7)), 1, 1) == "S"
    unsigned = F.try_element_at(tokens, F.lit(8)).try_cast("double")
    return F.when(lat_was_south, unsigned).otherwise(signed_longitude(tokens))

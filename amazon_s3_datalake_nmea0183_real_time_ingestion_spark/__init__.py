"""PySpark-native analytics engine with the query and data-processing
capabilities of aws-samples/amazon-s3-datalake-nmea0183-real-time-ingestion.

The reference (see /root/reference, surveyed in SURVEY.md) is an AWS
ingest->ETL->lake->SQL pipeline for satellite IoT telemetry.  This package
re-expresses that capability Spark-first:

- ``schemas``    : declared StructTypes (envelope, SOH payload, 30-col stage).
- ``functions``  : pure column-expression library (base64, NMEA, text,
                   vectors, portable hashing).
- ``operators``  : composed dataflow operators (classify, flatten, geocode
                   join, alerts, dedup family, similarity, clustering,
                   sessionize, as-of, curation, graph rank, z-order layout).
- ``sources``    : batch/stream readers + catalog registration.
- ``plans``      : the query library (Tier A/B/C/D keys from SURVEY.md section 2).
- ``streaming``  : the structured-streaming ingest pipeline (60 s trigger,
                   multi-sink foreachBatch: stage parquet + raw tees + alerts).
- ``storage``    : the storage policy for reused frames (``stored`` and
                   ``release_scope``; README "Storage policy").

Everything here is built on public PySpark 4.x APIs only.
"""

__version__ = "0.1.0"

"""Relational operators as portable SQL: the geospatial operators
(``geosql``) plus embedding similarity search (``similarity``) and event
sessionization (``events``), which are slated for removal.

Design rule for oracle parity: every relational op is built from
engine-portable SQL with *integer-exact* arithmetic (floor-before-cast,
exact dyadic divisions, polynomial hashes mod p, quantized embedding dot
products), so the DuckDB oracle and the Spark plan agree
bit-for-bit — no FP-summation-order hazards.
"""

"""Decode budgets shared by the dependency-free image codecs.

A few header bytes can declare an image far larger than the file, so
each decoder checks the declared size against this budget before it
allocates anything sized by it, and raises ``ValueError`` (the kind
callers fall back on) when the budget is exceeded."""

MAX_DECODE_PIXELS = 16_000_000

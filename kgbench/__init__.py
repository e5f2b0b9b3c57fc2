"""KG-construction benchmark: batch table→KG runs gated on the oracle."""

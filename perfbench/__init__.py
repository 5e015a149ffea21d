"""Layered benchmark for the blow_spark query catalog (see README.md)."""
